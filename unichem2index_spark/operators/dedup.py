"""Deduplication operators for a large-scale training-data pipeline:
exact, MinHash+LSH, SimHash, and token-shingle Jaccard.

Hashing stays JVM-side (explode / groupBy / join expressions — no Python
workers): hashes are integer arithmetic over dense token ids so the exact
same computation is expressible in the DuckDB oracle SQL. The one Python
pass is the exact-substring window inventory (see its docstring).

Scale notes
-----------
* ``vocab_ids`` ranks the distinct vocabulary WITHOUT a global window:
  terms are prefix-bucketed (order-preserving, deterministic), ranked
  within buckets in parallel, and shifted by exclusive prefix-sum offsets
  computed over the per-bucket counts — only O(#buckets) rows ever pass
  through a serial stage, never the vocabulary itself.
* The id table joins back onto the token stream with NO broadcast hint:
  AQE broadcasts it while the vocabulary is small and degrades to a
  shuffle (bucket) join at web-scale vocabularies — both plans correct.
* LSH banding turns O(n²) near-dup search into a groupBy on band buckets —
  the shuffle key is (band_idx, band_value), and only bucket-mates join.
* Candidate verification (exact Jaccard) touches candidate pairs only,
  and shares ONE persisted ``doc_token_ids`` table with the signature
  stage (explicit DISK_ONLY persist — a guarantee, where the previous
  reliance on Spark exchange reuse was a planner artifact AQE could
  break under plan divergence). The caller releases it via the result's
  ``_u2i_persisted`` handle after materializing.
* ``ngram_jaccard_pairs`` blocks on the shingle itself with a document-
  frequency cap (drop shingles with df > cap from CANDIDATE GENERATION
  only): no block is ever quadratic in a mega-source, and verification
  still scores the full shingle sets of each candidate pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from unichem2index_spark.functions.hashing import (
    BAND_SIZE,
    CC_BUCKET_TARGET,
    FP_MULT,
    MINHASH_A,
    MINHASH_B,
    MOD,
    NUM_HASHES,
    SIMHASH_P,
)
from unichem2index_spark.functions.tokenize import tokenize, tokens_col

# Shingles whose document frequency exceeds this never generate candidate
# pairs (boilerplate blocking); near-dups above jaccard ~0.5 share many
# rare shingles, so recall loss is negligible while the worst-case block
# size is bounded by the cap instead of by the largest source.
NGRAM_DF_CAP = 50


def _tok(d: DataFrame) -> DataFrame:
    return d.select("doc_id", "source", tokens_col("text").alias("tokens"))


def vocab_ids(tok: DataFrame) -> DataFrame:
    """Dense token ids == ``row_number() OVER (ORDER BY term) - 1`` (the
    DuckDB-oracle form), computed scale-safely with a prefix-bucket
    rank:

    1. bucket = 3-char term prefix (prefix comparison is a prefix of
       full string comparison, so bucket order is consistent with term
       order — and bucketing is a pure function of the term:
       deterministic across re-evaluations, nothing needs persisting,
       unlike sampled ``repartitionByRange`` boundaries). Within-bucket
       rank parallelism is one task per 3-char prefix: a natural-skew
       hot 2-char prefix ("co", "th", …) fans out over its 3rd
       character instead of landing on one task.
    2. exclusive prefix-sum offsets over the bucket COUNT rows, computed
       on the DRIVER: the bucket-count frame is bounded by the token
       alphabet (≤ 36³ = 46,656 rows whatever the corpus size — a
       bounded metadata collect, like a quantizer's centroid table),
       sorted and cumsum'd in one pass, and re-entered as a broadcast
       offsets table. This replaces the former two-level self-join
       prefix-sum (2 joins + 3 aggregations + their codegen), which was
       ~4 s of first-evaluation compile time and ~1 s of per-run stage
       overhead at sf0.1 for the same bounded output. Token chars are
       [a-z0-9], so Python's str sort == Spark's UTF8 binary order.
    3. global id = bucket offset + parallel within-bucket rank. No
       global-window single-partition stage anywhere in the plan.
    """
    spark = tok.sparkSession
    # array_distinct before explode: per-doc duplicates are removed
    # map-side, shrinking the distinct-aggregation input (same output).
    vocab = tok.select(
        F.explode(F.array_distinct("tokens")).alias("term")
    ).distinct()
    bucketed = vocab.withColumn("b3", F.substring("term", 1, 3))
    c3 = bucketed.groupBy("b3").agg(F.count(F.lit(1)).alias("n3")).collect()
    off = 0
    offs = []
    for r in sorted(c3, key=lambda r: r.b3):
        offs.append((r.b3, off))
        off += r.n3
    offsets = spark.createDataFrame(offs, "b3 string, _off long")
    w_rank = W.partitionBy("b3").orderBy("term")
    # The offsets snapshot a plan the result evaluates again. A bucket the
    # snapshot lacks (the source changed in between) fails the query
    # rather than losing its terms to an inner join.
    bucket_off = F.when(
        F.col("_off").isNull(),
        F.raise_error(
            F.concat(
                F.lit("vocab_ids: no offset for bucket "),
                F.col("b3"),
                F.lit("; the source changed after the offsets were taken"),
            )
        ),
    ).otherwise(F.col("_off"))
    return (
        bucketed.join(F.broadcast(offsets), "b3", "left")
        .select(
            "term",
            (bucket_off + F.row_number().over(w_rank) - 1)
            .cast("long")
            .alias("token_id"),
        )
    )


def doc_token_ids(d: DataFrame) -> DataFrame:
    """(doc_id, source, token_id) — DISTINCT tokens per doc (set semantics).
    No broadcast hint on the id join: AQE broadcasts small vocabularies
    and falls back to a shuffle join at scale."""
    tok = _tok(d)
    ids = vocab_ids(tok)
    # Per-doc distinct is map-side (array_distinct before explode): the
    # (doc_id, term) pairs are only ever duplicated WITHIN a doc, so the
    # global ``.distinct()`` exchange the old form paid is pure overhead —
    # same output set, one fewer shuffle.
    return (
        tok.select(
            "doc_id", "source",
            F.explode(F.array_distinct("tokens")).alias("term"),
        )
        .join(ids, "term")
        .select("doc_id", "source", "token_id")
    )


# ----------------------------------------------------------------- exact
def dedup_exact(spark: SparkSession, t) -> DataFrame:
    """Exact dedup by full text over a corpus with guaranteed duplicates
    (documents ∪ documents): keep min doc_id per text group.

    Groups by the 128-bit ``md5(text)`` DIGEST, not the text itself: the
    digest is computed map-side and the shuffle key shrinks from the
    document body to 16 bytes — at 100 TB a raw-text groupBy key IS the
    corpus going through the exchange. Collision risk is ~n²/2^129
    (≈10⁻¹⁵ even at 10²² docs); for an adversarial corpus swap in
    sha2(text, 256) or add a residual-verify join on the grouped
    candidates — the shape stays identical."""
    d = t["documents"].select("doc_id", "text")
    doubled = d.unionAll(d)
    return (
        doubled.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("text_md5")
        )
        .groupBy("text_md5")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keeper_doc_id", "n_copies", "text_md5")
        .orderBy("keeper_doc_id")
    )


# ----------------------------------------------------------------- MinHash
def minhash_signatures_from_ids(ids: DataFrame) -> DataFrame:
    """doc_id, m0..m15 — MinHash over an existing (doc_id, token_id) set."""
    aggs = [
        F.min((F.lit(a) * (F.col("token_id") + 1) + F.lit(b)) % F.lit(MOD)).alias(
            f"m{i}"
        )
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return ids.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    spark: SparkSession, t, threshold: float = 0.8
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band bucketing → candidate pairs →
    exact-Jaccard verification (shingle→minhash→band→bucket-join).

    ``ids`` is computed ONCE — an explicit DISK_ONLY persist shared by
    the signature stage and the verification stage (exchange reuse gave
    the same plan opportunistically; the persist makes it a guarantee
    under any AQE re-plan). It stays pinned until the caller
    materializes the returned DataFrame; release it afterwards via
    ``result._u2i_persisted.unpersist()`` (bench.py does).

    Candidate pairs are emitted EXACTLY ONCE by the band self-join: each
    band row carries the doc's full 4-band value array (``bvals``), and
    the join emits a pair only from its FIRST matching band (for every
    earlier band the carried values must disagree — an AND-of-inequality
    residual over ``bvals``). ``n_bands`` is the inline sum of per-band
    equality — identical to the old matching-band count, since each doc
    emits one row per band and a pair can match a band at most once.
    This removes the pair-level ``groupBy(doc_a, doc_b)`` exchange that
    previously shuffled every (pair × matching-band) row — at sf0.1 that
    was ~25M rows into an exchange for 7.7M distinct candidates;
    measured 3.7× faster for the candidate stage (5.9 s → 1.6 s).

    Verification joins each candidate pair with two per-doc token-id
    ARRAYS (one groupBy over ids) and intersects them JVM-side with
    ``array_intersect`` — two joins keyed on doc_id carrying one array
    row per doc, instead of a per-token pairwise join that would
    materialize |candidates| × |shared tokens| rows. (Computing the
    intersection INLINE in the band self-join was measured 8× slower:
    the jaccard filter is pushed into the join's interpreted residual
    and evaluated on every matched band row, pre-first-match, instead
    of once per candidate in a codegen'd project.)"""
    from pyspark import StorageLevel

    d = t["documents"]
    ids = doc_token_ids(d).select("doc_id", "token_id").persist(
        StorageLevel.DISK_ONLY
    )
    sig = minhash_signatures_from_ids(ids)
    n_bands = NUM_HASHES // BAND_SIZE
    band_val = [
        F.concat_ws(
            "_", *[F.col(f"m{bi * BAND_SIZE + j}") for j in range(BAND_SIZE)]
        )
        for bi in range(n_bands)
    ]
    band_structs = [
        F.struct(F.lit(bi).alias("band_idx"), band_val[bi].alias("band_val"))
        for bi in range(n_bands)
    ]
    # Explicit repartition on the join key: the bands table is tiny in
    # BYTES (AQE would coalesce it to one partition) but the bucket
    # self-join EXPANDS by orders of magnitude — a blind spot in
    # bytes-based coalescing that serialized the whole candidate stage.
    # An explicit partition count pins the expansion across the cluster;
    # same-bucket rows still co-locate (no second shuffle for the join).
    # Measured 2.7x on the full pipeline at sf0.1.
    n_part = sig.sparkSession.sparkContext.defaultParallelism * 2
    bands = (
        sig.select(
            "doc_id",
            F.array(*band_val).alias("bvals"),
            F.explode(F.array(*band_structs)).alias("band"),
        )
        .select("doc_id", "bvals", "band.band_idx", "band.band_val")
        .repartition(n_part, "band_idx", "band_val")
    )
    a, b = bands.alias("a"), bands.alias("b")
    # Emit only from the first matching band: any band before this one
    # must DISAGREE, so each candidate pair appears exactly once.
    prior_match = F.lit(False)
    for k in range(n_bands - 1):
        prior_match = prior_match | (
            (F.col("a.band_idx") > F.lit(k))
            & (F.col("a.bvals")[k] == F.col("b.bvals")[k])
        )
    n_bands_matched = sum(
        (F.col("a.bvals")[k] == F.col("b.bvals")[k]).cast("int")
        for k in range(n_bands)
    )
    cand = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & ~prior_match,
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        n_bands_matched.cast("long").alias("n_bands"),
    )
    # Stage boundary between candidate generation and verification: the
    # exchange (narrow rows: two ids + a count) gives AQE accurate
    # runtime stats for BOTH verify-join children, so it plans them as
    # broadcast hash joins whose jaccard residual runs inside
    # whole-stage codegen. Without it the verify joins chain directly
    # onto the band self-join as sort-merge joins: the candidate rows
    # are exchanged+sorted twice and the jaccard filter lands in an
    # INTERPRETED join residual (~30 µs/row vs ~4 µs/row codegen —
    # measured 16.6 s vs 4.5 s end-to-end at sf0.1). A static
    # F.broadcast hint is wrong twice over: it skips the stage split
    # (same interpreted residual, measured 15.7 s) and it would pin a
    # corpus-sized docsets broadcast at 100-TB scale.
    cand = cand.repartition(n_part, "doc_a")
    # exact verification on candidates only — per-doc token arrays
    docsets = ids.groupBy("doc_id").agg(F.collect_list("token_id").alias("toks"))
    da, db = docsets.alias("da"), docsets.alias("db")
    inter_c = F.size(F.array_intersect("da.toks", "db.toks"))
    out = (
        cand.join(da, F.col("doc_a") == F.col("da.doc_id"))
        .join(db, F.col("doc_b") == F.col("db.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            F.round(
                inter_c
                / (F.size("da.toks") + F.size("db.toks") - inter_c),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )
    out._u2i_persisted = ids  # type: ignore[attr-defined]
    return out


# ----------------------------------------------------------------- SimHash
def simhash_docs(d: DataFrame) -> DataFrame:
    """doc_id, simhash (16-bit, tf-weighted)."""
    tok = _tok(d)
    ids = vocab_ids(tok)
    counts = (
        tok.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(ids, "term")
    )
    half = MOD // 2
    bit_sums = [
        F.sum(
            F.col("cnt")
            * F.when(
                ((F.col("token_id") + 1) * F.lit(p)) % F.lit(MOD) >= half,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"s{j}")
        for j, p in enumerate(SIMHASH_P)
    ]
    per_doc = counts.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(len(SIMHASH_P)):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else (sim + term)
    return per_doc.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_groups(spark: SparkSession, t) -> DataFrame:
    """SimHash near-dup buckets: groups of docs sharing a 16-bit simhash."""
    return (
        simhash_docs(t["documents"])
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_docs") > 1)
        .orderBy("simhash")
    )


# ------------------------------------------------------- n-gram Jaccard
def shingles_expr() -> str:
    """3-token shingles as a SQL expr over a `tokens` array column."""
    return (
        "CASE WHEN size(tokens) >= 3 THEN "
        "transform(sequence(0, size(tokens)-3), "
        "i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])) "
        "ELSE array() END"
    )


def ngram_jaccard_pairs(
    spark: SparkSession,
    t,
    threshold: float = 0.5,
    df_cap: int = NGRAM_DF_CAP,
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over distinct 3-token shingles.

    Blocking is on the shingle itself with a document-frequency cap:
    candidate pairs must share at least one shingle with df <= ``df_cap``,
    so no single block is ever quadratic in a dominant source/boilerplate
    shingle (the standard df-cap trick). Verification then computes exact
    Jaccard over the candidates' FULL shingle sets (capped shingles
    included) — semantics are "any pair with jaccard >= threshold that
    shares >= 1 rare shingle"."""
    d = _tok(t["documents"])
    sh = (
        d.select("doc_id", F.expr(shingles_expr()).alias("shingles"))
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .distinct()
    )
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= df_cap)
        .select("shingle")
    )
    # Same expansion-vs-AQE note as minhash_lsh_pairs: pin the self-join
    # parallelism on the blocking key.
    n_part = sh.sparkSession.sparkContext.defaultParallelism * 2
    blocked = sh.join(rare, "shingle").repartition(n_part, "shingle")
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact verification via per-doc shingle arrays + JVM array_intersect
    # (same shuffle-volume argument as minhash_lsh_pairs).
    docsets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shs"))
    da, db = docsets.alias("da"), docsets.alias("db")
    inter_c = F.size(F.array_intersect("da.shs", "db.shs"))
    return (
        cand.join(da, F.col("doc_a") == F.col("da.doc_id"))
        .join(db, F.col("doc_b") == F.col("db.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            inter_c.cast("long").alias("shared_shingles"),
            F.round(
                inter_c / (F.size("da.shs") + F.size("db.shs") - inter_c),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------- exact-substring dedup
# Fixed window granularity in tokens. Lee et al. 2022 ("Deduplicating
# Training Data Makes Language Models Better") mark 50-BPE-token spans
# via a suffix array; the distributed equivalent inventories every
# W-token window and flags windows whose exact string occurs in >= 2
# distinct docs. 10 whitespace-tokens ~ the same character span on this
# corpus shape.
SUBSTR_W = 10


def exact_substring_dedup(spark: SparkSession, t) -> DataFrame:
    """Exact-substring duplication inventory at fixed granularity: for
    every document, how many of its W-token windows (stride 1) also
    appear verbatim in ANOTHER document — the per-doc summary a
    training-data pipeline uses to cut docs with heavy boilerplate /
    syndicated-passage overlap, and the distributed stand-in for the
    suffix-array pass of Lee et al. 2022 (which marks the same spans,
    just with variable length).

    Scale shape: the window inventory is a map-side pass (no pairs),
    the cross-doc test is ONE hash agg on the window string (map-side
    combined) filtered to ndocs >= 2, and the flag-back is a join on
    that reduced frame — candidates bounded by windows that actually
    repeat. The inventory is built in an Arrow-batched ``mapInPandas``
    because the Catalyst form, ``transform(sequence(...), slice ...)``,
    runs interpreted (array HOFs are not whole-stage-codegen'd):
    27.6 s vs 23.7 s at 200k docs (BENCH.md). The shuffle, not the
    inventory, dominates what remains.

    A window duplicated only WITHIN one doc does not count (ndocs >= 2
    is distinct docs); every duplicated POSITION counts (multiplicity
    kept), matching span-removal accounting."""
    import pandas as pd

    docs = t["documents"].select("doc_id", "text")
    W_ = SUBSTR_W

    def fn(batches):
        for pdf in batches:
            ids: list = []
            ws: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = tokenize(text)
                for i in range(len(toks) - W_ + 1):
                    ids.append(doc_id)
                    ws.append(" ".join(toks[i : i + W_]))
            yield pd.DataFrame({"doc_id": ids, "win": ws})

    wins = docs.mapInPandas(fn, "doc_id long, win string")
    dup_wins = (
        wins.select("win", "doc_id")
        .distinct()
        .groupBy("win")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("win")
    )
    per_doc_tot = wins.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows")
    )
    per_doc_dup = (
        wins.join(dup_wins, "win")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        per_doc_dup.join(per_doc_tot, "doc_id")
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows") / F.col("n_windows"), 6
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------- near-dup cluster resolution
def neardup_clusters(
    spark: SparkSession, t, threshold: float = 0.8, max_iters: int = 30
) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph:
    every doc that appears in a verified pair gets ``cluster_id`` = the
    smallest doc_id reachable from it. Pair-finding alone
    (:func:`minhash_lsh_pairs`) is not dedup — A~B and B~C must fold
    into ONE group {A,B,C} before a keeper can be chosen, and the fold
    is a graph connectivity problem (the step between "candidate pairs"
    and "drop list" in every production near-dedup pipeline).

    Algorithm: hash-min label propagation — every node starts labeled
    with itself; each round takes the min of its own label and its
    neighbors' labels; converged when no label changes. Each round is
    ONE join (edges ⋈ labels, keyed on doc_id) + ONE map-side-combined
    min-agg over a frame of O(|V| + |E|) rows, and the round count is
    the graph DIAMETER — near-dup components are small and dense
    (near-cliques of rewrites/mirrors), so diameter is single-digit in
    practice even at web scale. For adversarial long-chain graphs the
    drop-in upgrade is large-star/small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"), which contracts in
    O(log^2 n) rounds using the same join-shape; the per-round plan
    here is already that shape. Labels are persisted per round
    (lineage would otherwise double each iteration) and the previous
    round's cache is released immediately.

    Lineage discipline: each round references the previous labels
    TWICE (neighbor-min join + carry-forward), so the logical plan
    doubles per iteration — a plain persist leaves an exponentially
    growing plan that OOMs the driver on stringification long before
    the data does. Every round therefore cuts lineage with an eager
    ``localCheckpoint`` (the canonical Spark idiom for iterative
    algorithms); a fault-tolerant cluster run sets
    ``spark.sparkContext.setCheckpointDir`` and swaps in
    ``checkpoint()`` — same plan shape, replicated storage.

    Output: one row per CLUSTERED doc (docs with no near-dup are
    absent — every node has degree >= 1 by construction, so every
    cluster has >= 2 members), deterministic under any partitioning:
    labels are min-folds, no order sensitivity anywhere."""
    p = minhash_lsh_pairs(spark, t, threshold)
    pinned = getattr(p, "_u2i_persisted", None)
    pairs = p.select("doc_a", "doc_b").persist()
    pairs.count()
    if pinned is not None:
        pinned.unpersist()
    edges = pairs.union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    labels = (
        edges.select(F.col("doc_a").alias("id"))
        .distinct()
        .withColumn("lab", F.col("id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iters):
        nb = (
            edges.join(labels, edges["doc_b"] == labels["id"])
            .groupBy("doc_a")
            .agg(F.min("lab").alias("nb_lab"))
        )
        new = (
            labels.join(nb, labels["id"] == nb["doc_a"], "left")
            .select(
                "id",
                F.least(
                    F.col("lab"), F.coalesce("nb_lab", F.col("lab"))
                ).alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.lab") != F.col("o.lab"))
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"neardup_clusters: no fixpoint in {max_iters} rounds"
        )
    # the result reads only the final (persisted) labels — the pair
    # graph is done the moment the fixpoint confirms
    pairs.unpersist()
    sizes = labels.groupBy("lab").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    out = (
        labels.join(sizes, "lab")
        .select(
            F.col("id").alias("doc_id"),
            F.col("lab").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("cluster_id", "doc_id")
    )
    out._u2i_persisted = labels  # type: ignore[attr-defined]
    return out


def dedup_keep_best(
    spark: SparkSession, t, threshold: float = 0.8
) -> DataFrame:
    """Near-dup cluster RESOLUTION: within each connected component of
    the near-dup graph, keep exactly one document — the longest (the
    standard keep-the-most-complete-version heuristic; mirrors and
    truncated syndications lose), ties broken by smallest doc_id. The
    output is the keep/drop decision sheet a pipeline anti-joins
    against the corpus.

    Scale shape: everything up to the cluster frame is
    :func:`neardup_clusters`; the keeper choice is ONE window
    partitioned by cluster_id over cluster-sized groups (near-dup
    clusters are small — bounded per-task state), never a global
    sort."""
    cl = neardup_clusters(spark, t, threshold)
    pinned = getattr(cl, "_u2i_persisted", None)
    d = t["documents"].select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("doclen")
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("doclen"), F.asc("doc_id")
    )
    out = (
        cl.join(d, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "doclen",
            F.when(F.col("rk") == 1, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("keep"),
        )
        .orderBy("cluster_id", "doc_id")
    )
    out._u2i_persisted = pinned  # type: ignore[attr-defined]
    return out


CC_MAX_ITERS = 50


def connected_components(spark: SparkSession, t) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    near-dup candidate-pair stream via min-label propagation - the
    clustering step every web-scale dedup pipeline runs after pair
    generation (MinHash/LSH pairs -> duplicate clusters; the same
    algorithm GraphFrames ships). Output: (component_id = min doc_id
    in cluster, size), largest first.

    The pair stream is DERIVED the way real pipelines emit it: docs
    land in LSH-style buckets (hash mod n_buckets, n_buckets scaled so
    buckets hold ~CC_BUCKET_TARGET docs at ANY corpus size), and each
    bucket links ADJACENT members after an id sort instead of all
    pairs - the linear-pair trick (SlimPajama-style) that avoids the
    quadratic bucket blowup but leaves multi-hop chains only a real CC
    pass can resolve. Identical expressions in the DuckDB oracle.

    Each round: every node takes min(own, neighbors') label - one hash
    join + one min-agg, converging in O(chain length) rounds (bounded
    ~CC_BUCKET_TARGET by construction, hard cap CC_MAX_ITERS as a
    runaway guard). Convergence is a SCALAR changed-count per round
    (O(1) at the driver, not a data collect). At a fixpoint labels are
    constant per component (a boundary edge with differing labels
    would still update), and since labels only decrease and start at
    node ids, the fixpoint label IS the component min.

    Scale shape at 10^12 nodes: labels and edges hash-partition on the
    join key; each round shuffles only (long, long) pairs; lineage is
    truncated EVERY round (localCheckpoint here - an iterative plan
    that keeps its history overflows Catalyst long before memory;
    production swaps in reliable checkpoints). The DuckDB oracle
    computes the same labels via recursive-CTE transitive closure -
    tractable at oracle scale only, which is the point: the Spark side
    is the one that survives the real graph."""
    docs = t["documents"].select("doc_id")
    nb = docs.agg(
        F.greatest(
            F.ceil(F.count(F.lit(1)) / CC_BUCKET_TARGET), F.lit(1)
        ).alias("n_buckets")
    )
    d = docs.crossJoin(F.broadcast(nb)).select(
        "doc_id",
        (((F.col("doc_id") % MOD + 7) * FP_MULT) % MOD % F.col("n_buckets")).alias(
            "bkt"
        ),
    )
    w = W.partitionBy("bkt").orderBy("doc_id")
    edges = (
        d.select("doc_id", F.lag("doc_id").over(w).alias("prev"))
        .where(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("doc_id").alias("dst"))
    )
    und = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    ).localCheckpoint(eager=True)
    labels = docs.select("doc_id", F.col("doc_id").alias("lbl"))
    for _ in range(CC_MAX_ITERS):
        nbr = (
            und.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("lbl").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr"))
        )
        mins = labels.join(nbr, labels["doc_id"] == nbr["src"], "left").select(
            labels["doc_id"].alias("doc_id"),
            F.least(
                F.col("lbl"), F.coalesce(F.col("nbr"), F.col("lbl"))
            ).alias("lbl"),
        )
        # pointer jump (path doubling): follow lbl -> lbl(lbl) once per
        # round, turning O(chain-length) convergence into O(log chain)
        # - the difference between ~30 and ~6 rounds here, and between
        # feasible and not at 10^12 nodes where the longest chain is
        # unbounded. lbl values are doc ids, so the self-join is total.
        new = (
            mins.alias("x")
            .join(
                mins.select(
                    F.col("doc_id").alias("p_id"), F.col("lbl").alias("p_lbl")
                ),
                F.col("x.lbl") == F.col("p_id"),
            )
            .select(
                F.col("x.doc_id").alias("doc_id"),
                F.least(F.col("x.lbl"), F.col("p_lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("a")
            .join(labels.alias("b"), "doc_id")
            .where(F.col("a.lbl") != F.col("b.lbl"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(F.col("lbl").alias("component_id"), "size")
        .orderBy(F.desc("size"), "component_id")
    )


WINNOW_K = 4  # token k-gram width
WINNOW_W = 5  # winnowing window (picks per window of k-gram hashes)


def winnowing_fingerprints(spark: SparkSession, t) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every WINNOW_K-token k-gram, slide a
    WINNOW_W window over the hash sequence, and keep each window's
    minimum — guaranteeing any shared run of >= W+K-1 tokens between
    two documents shares at least one selected fingerprint, at ~1/W
    the storage of full k-gram shingling. Tie-break is the RIGHTMOST
    minimal hash (the paper's rule), encoded by suffixing each hash
    with (99999 - pos) so one lexicographic min implements (hash asc,
    pos desc). Emits per doc the selected-set size and an order-free
    digest of the set.

    Versus :func:`exact_substring_dedup` (which materializes EVERY
    window): winnowing is the bounded-storage variant a 100-TB corpus
    actually persists per doc — the selection is map-only JVM array
    HOFs over each doc's own token list, zero shuffle before the
    output sort (gate-bounded frame), and the fingerprint column is
    what a downstream pair-join would bucket on."""
    k, w = WINNOW_K, WINNOW_W
    d = t["documents"].select(
        "doc_id", tokens_col("text").alias("toks")
    )
    enc = F.expr(
        f"""CASE WHEN size(toks) - {k - 1} <= 0
          THEN CAST(array() AS ARRAY<STRING>)
          ELSE transform(sequence(1, size(toks) - {k - 1}), i ->
            concat(
              substr(md5(CAST(concat_ws(' ', slice(toks, i, {k}))
                              AS BINARY)), 1, 8),
              ':', lpad(CAST(99999 - i AS STRING), 5, '0')))
          END"""
    )
    picks = F.expr(
        f"""CASE WHEN size(e) = 0 THEN CAST(array() AS ARRAY<STRING>)
          ELSE array_distinct(
            transform(sequence(1, greatest(size(e) - {w - 1}, 1)), j ->
              array_min(slice(e, j, {w}))))
          END"""
    )
    return (
        d.select("doc_id", enc.alias("e"))
        .select("doc_id", picks.alias("fps"))
        .select(
            "doc_id",
            F.size("fps").cast("long").alias("n_fps"),
            F.md5(
                F.concat_ws(",", F.array_sort("fps")).cast("binary")
            ).alias("fp_digest"),
        )
        .orderBy("doc_id")
    )


def cdc_chunks(spark: SparkSession, t) -> DataFrame:
    """Content-defined chunking (LBFS / Muthitacharoen et al. 2001 —
    the rsync/casync/restic storage-dedup primitive, here over the
    token stream): a chunk boundary falls AFTER every token whose hash
    starts with a fixed nibble (P = 1/16, expected chunk ~16 tokens).
    Boundaries depend only on LOCAL content, so an insertion early in a
    document shifts every byte offset but leaves all downstream chunk
    fingerprints identical — the property fixed-size blocking lacks and
    the reason CDC is how storage layers dedup re-crawled pages. Emits
    per doc the chunk count and an order-preserving digest of the chunk
    content hashes (the unit a chunk-store would key on).

    Implementation is one pass of JVM array HOFs per doc: boundary
    positions by filter-transform, chunk spans by zip_with over
    (starts, ends) = ([0]+bpos, bpos+[n]), per-chunk md5 of the joined
    token slice. Map-only, zero shuffle before the gate's output sort;
    at 100 TB the chunk-hash explode feeds the same banded dedup joins
    as MinHash."""
    bpos = (
        "filter(transform(toks, (tk, i) -> "
        "IF(substr(md5(CAST(tk AS BINARY)), 1, 1) = '0', i + 1, 0)), "
        "p -> p > 0)"
    )
    chunks = F.expr(
        f"""filter(
          zip_with(
            concat(array(0), {bpos}),
            concat({bpos}, array(size(toks))),
            (a, b) -> IF(b > a,
                         md5(CAST(concat_ws(' ', slice(toks, a + 1, b - a))
                                  AS BINARY)),
                         NULL)),
          x -> x IS NOT NULL)"""
    )
    d = t["documents"].select("doc_id", tokens_col("text").alias("toks"))
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        F.size(chunks).cast("long").alias("n_chunks"),
        F.md5(F.concat_ws(",", chunks).cast("binary")).alias(
            "chunks_digest"
        ),
    ).orderBy("doc_id")


SIMHASH_HAMMING_MAX = 3  # Manku et al.'s canonical k
SIMHASH_BAND_BITS = 4  # 16-bit simhash -> 4 disjoint 4-bit bands


def simhash_hamming_pairs(spark: SparkSession, t) -> DataFrame:
    """Hamming-radius near-dup pairs over SimHash (Manku, Jindal &
    Das Sarma, WWW 2007 — the Google web-crawl near-dup detector):
    find every doc pair whose simhashes differ in <= k bits WITHOUT an
    all-pairs scan. Pigeonhole blocking: split the 16-bit hash into 4
    disjoint 4-bit bands; any pair within hamming distance 3 agrees
    EXACTLY on at least one band, so an equality self-join per band
    finds all such pairs with zero misses and only O(band collisions)
    candidates — the paper's permute-and-block scheme with permutations
    replaced by disjoint bands (exact for k < #bands). Exact
    verification is one bit_count(xor) per candidate.

    This corpus uses the repo's 16-bit simhash so the DuckDB oracle is
    exact; production uses 64-bit (4x16-bit bands, same plan) where
    radius 3 is discriminative rather than permissive. Scale shape:
    the band join shuffles (doc, 4 small ints); candidates are
    pre-deduped before the verify expression; output is
    O(true near-pairs)."""
    sim = simhash_docs(t["documents"])
    n_bands = 16 // SIMHASH_BAND_BITS
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        (
                            F.shiftright(
                                F.col("simhash"), SIMHASH_BAND_BITS * b
                            )
                            % (1 << SIMHASH_BAND_BITS)
                        ).alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_idx", "b.band_val")
    a, bb = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hd = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.select("doc_a", "doc_b", hd.cast("int").alias("hamming"))
        .where(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


def dedup_consensus_pairs(spark: SparkSession, t) -> DataFrame:
    """Ensemble near-dup verdicts: the pairs found by at least TWO of
    the three independent detectors (MinHash-LSH exact-Jaccard >= 0.8,
    SimHash hamming <= 3, 3-gram Jaccard >= 0.5) with per-method
    provenance flags. Production dedup at web scale votes methods
    exactly like this: each detector has a different blind spot
    (MinHash misses short docs, SimHash radius is permissive at 16
    bits, shingle Jaccard misses reorderings), and the >= 2 consensus
    is the precision knob that survives all three error modes.

    Composition only: each detector keeps its own (already
    plan-audited) pipeline; the vote is ONE union + hash-agg over
    their pair outputs - O(candidate pairs), never touching the
    corpus again."""
    mh = (
        minhash_lsh_pairs(spark, t, 0.8)
        .select("doc_a", "doc_b")
        .withColumn("m", F.lit("mh"))
    )
    sh = (
        simhash_hamming_pairs(spark, t)
        .select("doc_a", "doc_b")
        .withColumn("m", F.lit("sh"))
    )
    ng = (
        ngram_jaccard_pairs(spark, t, 0.5)
        .select("doc_a", "doc_b")
        .withColumn("m", F.lit("ng"))
    )
    u = mh.unionByName(sh).unionByName(ng)
    return (
        u.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_methods"),
            F.max(F.when(F.col("m") == "mh", 1).otherwise(0))
            .cast("int")
            .alias("via_minhash"),
            F.max(F.when(F.col("m") == "sh", 1).otherwise(0))
            .cast("int")
            .alias("via_simhash"),
            F.max(F.when(F.col("m") == "ng", 1).otherwise(0))
            .cast("int")
            .alias("via_jaccard"),
        )
        .where(F.col("n_methods") >= 2)
        .orderBy("doc_a", "doc_b")
    )


BLOOM_M = 8192  # bits
BLOOM_K = 3  # hash functions (md5 hex slices)


def bloom_prefilter(spark: SparkSession, t) -> DataFrame:
    """Bloom-filter membership prefilter for INCREMENTAL exact dedup
    (Bloom 1970; the standard front gate before the expensive dedup
    join when a new crawl batch lands against an indexed corpus): the
    base corpus (doc_id % 10 != 0) populates an M=8192-bit / K=3
    filter keyed on md5(text) — the same digest exact_dedup groups on
    (dedup.py exact path) — and each probe doc (doc_id % 10 == 0)
    reports bloom_hit (all K bits set: "maybe seen, verify") next to
    exact_dup ground truth (digest match). Bloom's contract holds by
    construction: exact_dup = 1 implies bloom_hit = 1 (no false
    negatives); the false-positive rows are the verify-join workload.

    Cross-engine hashing: K positions are 28-bit integer parses of
    disjoint md5-hex slices (hex chars 1-7, 9-15, 17-23) mod M —
    Spark ``conv(substr(md5, ...), 16, 10)`` == DuckDB
    ``('0x' || substr(md5, ...))::BIGINT``, both far below 2^63.

    Scale shape: the filter is materialized RELATIONALLY as the
    distinct set-bit frame (<= M rows, broadcast to the probe side) —
    the honest local[32] stand-in for the production form, a per-
    executor byte-array bitmap OR-merged in one treeAggregate (noted,
    not faked). Probe membership is K broadcast-hash lookups per doc;
    nothing shuffles on the corpus."""
    m, hx = BLOOM_M, F.md5(F.col("text").cast("binary"))

    def pos(j: int):
        return (
            F.conv(F.substring("hx", 1 + 8 * j, 7), 16, 10).cast("long")
            % m
        ).alias(f"p{j}")

    d = t["documents"].select(
        "doc_id",
        hx.alias("hx"),
        (F.col("doc_id") % 10 == 0).alias("is_probe"),
    )
    p = d.select("doc_id", "hx", "is_probe", pos(0), pos(1), pos(2))
    base = p.where(~F.col("is_probe"))
    bits = (
        base.select(F.explode(F.array("p0", "p1", "p2")).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probe = p.where("is_probe")
    exploded = probe.select(
        "doc_id", F.explode(F.array("p0", "p1", "p2")).alias("pos")
    )
    bloom = (
        exploded.join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id")
        .agg(F.min(F.coalesce("hit", F.lit(0))).alias("bloom_hit"))
    )
    base_hx = base.select("hx").distinct().withColumn("ex", F.lit(1))
    exact = probe.join(F.broadcast(base_hx), "hx", "left").select(
        "doc_id", F.coalesce("ex", F.lit(0)).alias("exact_dup")
    )
    return (
        bloom.join(exact, "doc_id")
        .select(
            "doc_id",
            F.col("bloom_hit").cast("long").alias("bloom_hit"),
            F.col("exact_dup").cast("long").alias("exact_dup"),
        )
        .orderBy("doc_id")
    )


CONTAINMENT_TAU = 0.6


def containment_pairs(
    spark: SparkSession,
    t,
    threshold: float = CONTAINMENT_TAU,
    df_cap: int = NGRAM_DF_CAP,
) -> DataFrame:
    """Broder containment near-dups (Broder SEQUENCES'97 distinguishes
    resemblance — Jaccard — from CONTAINMENT c(A,B) = |A∩B| / |A|):
    the asymmetric measure that catches quote-inclusion and
    subset-duplicates a Jaccard threshold misses (a short doc fully
    embedded in a long one has low Jaccard but containment ~1).
    Emits ORDERED pairs (doc_a contained-in doc_b direction, both
    orientations of a candidate) with c >= threshold.

    Same scale machinery as ngram_jaccard_pairs (dedup.py:329): 3-token
    shingle blocking with the df-cap guard against boilerplate-shingle
    quadratic blocks, candidate verification over full shingle sets via
    one count agg — semantics are "pairs sharing >= 1 rare shingle"."""
    d = _tok(t["documents"])
    sh = (
        d.select("doc_id", F.expr(shingles_expr()).alias("shingles"))
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= df_cap)
        .select("shingle")
    )
    n_part = sh.sparkSession.sparkContext.defaultParallelism * 2
    blocked = sh.join(rare, "shingle").repartition(n_part, "shingle")
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ia, ib = sh.alias("ia"), sh.alias("ib")
    inter = (
        cand.join(ia, F.col("doc_a") == F.col("ia.doc_id"))
        .join(
            ib,
            (F.col("doc_b") == F.col("ib.doc_id"))
            & (F.col("ia.shingle") == F.col("ib.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = F.round(F.col("inter") / F.col("sz"), 6)
    return (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("sz")
            ),
            "doc_a",
        )
        .where(cont >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("long").alias("shared_shingles"),
            cont.alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )

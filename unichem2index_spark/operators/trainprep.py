"""Training-data preparation operators: deterministic train/valid/test
splitting, benchmark decontamination, and token-budget sequence packing.

These are the steps between "clean corpus" and "training batches" in an
LLM data pipeline — they complement the dedup/quality/token-count suite
(operators/dedup.py, operators/textstats.py). Each is either exactly
DuckDB-expressible (split, decontaminate) or carries a recursive-CTE
oracle (packing), so the driver hash-compare covers them like every
other operator.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unichem2index_spark.functions.hashing import FP_MULT, MOD
from unichem2index_spark.functions.tokenize import tokenize, tokens_col

# Percent thresholds of the deterministic doc_id hash: <90 train,
# <95 valid, else test. Shared with the generated oracle SQL.
SPLIT_TRAIN_PCT = 90
SPLIT_VALID_PCT = 95


def _split_hash_col():
    # (doc_id % MOD + 1) * FP_MULT stays < 2^62 — no int64 overflow at any
    # doc_id, and the identical expression evaluates in DuckDB/Python.
    return ((F.col("doc_id") % MOD + 1) * FP_MULT) % MOD % 100


def train_eval_split(spark: SparkSession, t) -> DataFrame:
    """Deterministic hash-based train/valid/test split (90/5/5): the
    assignment is a pure function of doc_id, so it is stable across
    re-runs, partitionings, and cluster sizes — the property a training
    pipeline needs so that eval docs NEVER drift into train between
    ingestion runs. (Spark's randomSplit is seed-stable only for a fixed
    partitioning; a hash split is stable unconditionally.)

    Returns per-split doc and token counts — the budget sheet. The
    assignment itself is the ``split`` column of :func:`split_assignment`;
    one map-side-combined pass, no shuffle beyond the 3-row agg."""
    d = t["documents"]
    h = _split_hash_col()
    return (
        d.select(
            F.when(h < SPLIT_TRAIN_PCT, "train")
            .when(h < SPLIT_VALID_PCT, "valid")
            .otherwise("test")
            .alias("split"),
            F.size(tokens_col("text")).cast("long").alias("doclen"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doclen").alias("n_tokens"),
        )
        .orderBy("split")
    )


def split_assignment(docs_df: DataFrame) -> DataFrame:
    """(doc_id, split) for every doc — the joinable form of the split."""
    h = _split_hash_col()
    return docs_df.select(
        "doc_id",
        F.when(h < SPLIT_TRAIN_PCT, "train")
        .when(h < SPLIT_VALID_PCT, "valid")
        .otherwise("test")
        .alias("split"),
    )


# Decontamination: candidate docs sharing >= this many distinct 3-token
# shingles with ANY benchmark doc are flagged. Shared with the oracle.
CONTAM_MIN_SHARED = 2
BENCHMARK_SOURCE = "src0"  # the held-out "eval suite" slice


def _shingles(df: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct 3-token shingles — same construction as
    dedup.ngram_jaccard_pairs / textstats.rare_terms_agg."""
    toks = df.select("doc_id", tokens_col("text").alias("toks"))
    return toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 3),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("toks", i + 1),
                        F.element_at("toks", i + 2),
                        F.element_at("toks", i + 3),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("shingle"),
    ).distinct()


def decontaminate(spark: SparkSession, t) -> DataFrame:
    """Benchmark decontamination: flag corpus docs that share at least
    ``CONTAM_MIN_SHARED`` distinct 3-token shingles with ANY doc of the
    benchmark slice (source == BENCHMARK_SOURCE) — the standard
    "eval-set leaked into pretraining data" check, scored by n-gram
    overlap exactly as published decontamination pipelines do it.

    Scale shape: the benchmark side is an eval suite — thousands of docs
    against a 10^12-doc corpus — so its DISTINCT shingle set is
    broadcast-sized; the probe is a map-side semi-join on the corpus
    shingle stream (no corpus-vs-corpus pair explosion; candidates
    bounded by docs actually sharing a benchmark shingle). The explicit
    ``broadcast`` hint pins that plan."""
    d = t["documents"]
    bench_sh = (
        _shingles(d.where(F.col("source") == BENCHMARK_SOURCE))
        .select("shingle")
        .distinct()
    )
    cand_sh = _shingles(d.where(F.col("source") != BENCHMARK_SOURCE))
    return (
        cand_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= CONTAM_MIN_SHARED)
        .orderBy("doc_id")
    )


# Sequence packing: greedy fill of a fixed token budget, docs in doc_id
# order within each source group. Shared with the recursive-CTE oracle.
PACK_BUDGET = 256

_PACK_SCHEMA = (
    "source string, seq_id long, n_docs long, seq_tokens long"
)


def pack_sequences(spark: SparkSession, t) -> DataFrame:
    """Token-budget sequence packing (budget = PACK_BUDGET): within each
    source, docs in doc_id order fill the current sequence until the next
    doc would overflow the budget, which starts a new sequence (a doc
    longer than the whole budget gets a sequence of its own). This is
    the "concat-and-chunk" packing step that turns documents into
    fixed-length training sequences; emitting (source, seq_id, n_docs,
    seq_tokens) is the pack manifest a loader consumes.

    Scale shape: the fill state is intrinsically sequential WITHIN a
    group (each boundary depends on the previous fill — no closed-form
    cumsum expresses the reset), so the group is the unit of
    parallelism: applyInPandas per source, a single O(n) pass over plain
    int64 numpy arrays inside each group (array arithmetic + one Python
    loop over docs, not per-row pandas ops). At 10^12 docs the grouping
    key would be (source, day-partition) to bound group size; the
    operator shape is unchanged. Token counts are computed JVM-side
    BEFORE the shuffle, so only (doc_id, doclen) ever moves."""
    d = t["documents"]
    base = d.select(
        "source",
        "doc_id",
        F.size(tokens_col("text")).cast("long").alias("doclen"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        lens = pdf["doclen"].to_numpy()
        seq_ids = [0] * len(lens)
        seq, fill = 0, 0
        for i, n in enumerate(lens):
            if fill > 0 and fill + n > PACK_BUDGET:
                seq += 1
                fill = 0
            seq_ids[i] = seq
            fill += int(n)
        out = pd.DataFrame(
            {
                "source": pdf["source"].to_numpy(),
                "seq_id": seq_ids,
                "doclen": lens,
            }
        )
        return (
            out.groupby(["source", "seq_id"], as_index=False)
            .agg(n_docs=("doclen", "size"), seq_tokens=("doclen", "sum"))
        )

    return (
        base.groupBy("source")
        .applyInPandas(pack, _PACK_SCHEMA)
        .orderBy("source", "seq_id")
    )


# ------------------------------------------------- corpus-cleanup operators
DUP_NGRAM_N = 3
DUP_NGRAM_MAX_RATIO = 0.005  # Gopher-style repetition threshold

PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "\\b555-[0-9]{4}\\b"
PII_IP = "\\b10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


def collapse_repeats(spark: SparkSession, t) -> DataFrame:
    """Intra-document repetition cleanup: collapse runs of consecutive
    duplicate tokens ("batch batch batch" -> "batch") — the word-level
    analog of the elided-repetition pass training pipelines run before
    tokenization. Pure JVM array lambda (filter-with-index keeps token i
    only if it differs from token i-1), no Python workers, no shuffle —
    a map-only pass that scales linearly with the scan."""
    docs = t["documents"]
    toks = tokens_col(F.col("text"))
    kept = F.filter(
        toks,
        # element_at is 1-based: for 0-based position i>0 the previous
        # token is element_at(toks, i); greatest() keeps the index legal
        # under ANSI at i=0 where the OR already keeps the token.
        lambda x, i: (i == F.lit(0))
        | (x != F.element_at(toks, F.greatest(i, F.lit(1)))),
    )
    return (
        docs.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(kept).alias("n_kept"),
            (F.size(toks) - F.size(kept)).alias("n_removed"),
            F.md5(F.concat_ws(" ", kept)).alias("clean_fp"),
        )
        .orderBy("doc_id")
    )


def _ngram_counts(toks: list[str]) -> tuple[int, int]:
    """(total, distinct) word DUP_NGRAM_N-grams of one token list."""
    grams = list(zip(*(toks[j:] for j in range(DUP_NGRAM_N))))
    return len(grams), len(set(grams))


def dup_ngram_ratio(spark: SparkSession, t) -> DataFrame:
    """Gopher-style repetition quality signal: the fraction of a
    document's word 3-grams that are duplicates (1 - distinct/total),
    and the keep/drop verdict at DUP_NGRAM_MAX_RATIO.

    Map-only and shuffle-free, computed in an Arrow-batched mapInPandas
    because Catalyst's array higher-order functions are not
    whole-stage-codegen'd: the interpreted ``transform(sequence(...),
    element_at x3)`` form of the same signal measured ~23x slower
    (50.4 s vs 2.2 s for 200k docs on local[8], identical sums,
    BENCH.md) — ~3,800 vs ~170 core-hours for a 100 TB cleanup pass."""
    docs = t["documents"].select("doc_id", "text")

    def fn(batches):
        for pdf in batches:
            out = {"doc_id": [], "n_ngrams": [], "n_distinct": [],
                   "dup_ratio": [], "keep": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ng, nd = _ngram_counts(tokenize(text))
                ratio = 1.0 - nd / ng if ng else 0.0
                out["doc_id"].append(doc_id)
                out["n_ngrams"].append(ng)
                out["n_distinct"].append(nd)
                out["dup_ratio"].append(round(ratio, 6))
                out["keep"].append(ratio <= DUP_NGRAM_MAX_RATIO)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        fn,
        "doc_id long, n_ngrams int, n_distinct int, "
        "dup_ratio double, keep boolean",
    ).orderBy("doc_id")


def pii_scrub(spark: SparkSession, t) -> DataFrame:
    """PII scrubbing pass: mask emails / phone numbers / internal IPs
    with typed placeholders and count what was masked. The corpus is
    synthetic (PII-free by construction), so each doc gets a
    deterministic PII-bearing suffix derived from doc_id — identical
    expression in the DuckDB oracle — making the scrub genuinely
    exercised and the oracle non-vacuous. Map-only regexp_replace
    chain, JVM-side."""
    docs = t["documents"]
    text2 = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    d = docs.select("doc_id", text2.alias("t2"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t2"), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IP,
        "<IP>",
    )
    return (
        d.select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("t2"), F.lit(PII_EMAIL), F.lit(0)))
            .alias("n_emails"),
            F.size(F.regexp_extract_all(F.col("t2"), F.lit(PII_PHONE), F.lit(0)))
            .alias("n_phones"),
            F.size(F.regexp_extract_all(F.col("t2"), F.lit(PII_IP), F.lit(0)))
            .alias("n_ips"),
            F.md5(scrubbed).alias("scrubbed_fp"),
        )
        .orderBy("doc_id")
    )


# ftfy-style mojibake repair table: the classic UTF-8-bytes-decoded-as-
# cp1252 double-encoding bug (the dominant encoding defect in web crawls).
# Each (bad, good) pair satisfies bad == good.encode("utf-8").decode("cp1252")
# — asserted by tests/test_trainprep.py, so the table IS the inverse
# of the real corruption, not a lookalike. Only cp1252-defined byte
# sequences are included ('”' maps through undefined \x9d and is omitted).
MOJIBAKE_TABLE: list[tuple[str, str]] = [
    ("â€™", "’"),  # â€™ -> ’
    ("â€œ", "“"),  # â€œ -> “
    ("â€“", "–"),  # â€“ -> –
    ("Ã©", "é"),        # Ã© -> é
    ("Ã¨", "è"),        # Ã¨ -> è
    ("Ã¼", "ü"),        # Ã¼ -> ü
    ("Ã±", "ñ"),        # Ã± -> ñ
    ("Ã§", "ç"),        # Ã§ -> ç
]

# Deterministic injection suffix (one hit per table row group below): the
# synthetic corpus is ASCII-clean, so docs get a doc_id-derived mojibake
# suffix — same expression in the DuckDB oracle — making the repair
# genuinely exercised and the oracle non-vacuous (pii_scrub precedent).
MOJIBAKE_SUFFIX = (
    " cafÃ© donâ€™t Ã¼ber"
    " â€œquoted"
)


def fix_mojibake(spark: SparkSession, t) -> DataFrame:
    """Encoding-repair scan (ftfy's core fix, public knowledge): undo
    UTF-8-decoded-as-cp1252 mojibake via a fixed confusable table and
    report per-doc repair counts + a fingerprint of the repaired text.

    Docs with doc_id % 3 == 0 get the deterministic mojibake suffix
    (repeated 1 + doc_id % 2 times); everything else must pass through
    untouched — the oracle hash proves both the repair and the no-op.
    Map-only chained literal `replace` (JVM whole-stage codegen; no
    regex, no Python). At 100 TB this is one narrow projection over the
    text column — no shuffle, no UDF."""
    docs = t["documents"]
    injected = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.repeat(
                F.lit(MOJIBAKE_SUFFIX), (F.col("doc_id") % 2 + 1).cast("int")
            ),
        ),
    ).otherwise(F.col("text"))
    d = docs.select("doc_id", injected.alias("t2"))

    fixed = F.col("t2")
    n_fixed = F.lit(0)
    for bad, good in MOJIBAKE_TABLE:
        n_fixed = n_fixed + (
            (F.length("t2") - F.length(F.replace(F.col("t2"), F.lit(bad))))
            / F.lit(len(bad))
        ).cast("int")
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    return (
        d.select(
            "doc_id",
            n_fixed.cast("int").alias("n_fixed"),
            F.md5(fixed.cast("binary")).alias("fixed_fp"),
        )
        .orderBy("doc_id")
    )


def domain_blocklist_filter(spark: SparkSession, t) -> DataFrame:
    """UT1-style domain-blocklist filtering with parent-domain (suffix)
    matching — the RefinedWeb/FineWeb URL-filter step: a host is blocked
    if ANY suffix of its label chain (cdn.src3.example.com ->
    [cdn.src3.example.com, src3.example.com, example.com] minus the bare
    TLD) appears in the blocklist, so a rule for `src3.example.com`
    blocks every subdomain.

    The corpus has no host column, so hosts are synthesized
    deterministically from (doc_id, source) — identical expression in
    the DuckDB oracle — and the blocklist is the tiny dim frame of
    sources whose numeric suffix % 3 == 0. Scale shape: the suffix
    chain is a bounded map-side explode (≤ label count per doc, ~3-4),
    the blocklist join is an explicit ``F.broadcast`` (UT1 is ~4M rules
    — megabytes), and the verdict folds back with one map-side-combined
    min-agg; no shuffle ever carries the corpus more than once."""
    docs = t["documents"]
    host = F.concat(
        F.when(F.col("doc_id") % 4 == 0, F.lit("cdn."))
        .when(F.col("doc_id") % 4 == 1, F.lit("www."))
        .otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com"),
    )
    d = docs.select("doc_id", host.alias("host"))
    parts = F.split(F.col("host"), r"\.")
    n = F.size(parts)
    cand = (
        d.withColumn("parts", parts)
        .withColumn("i", F.explode(F.sequence(F.lit(1), n - 1)))
        .select(
            "doc_id",
            F.array_join(
                F.slice(F.col("parts"), F.col("i"), F.size("parts") - F.col("i") + 1),
                ".",
            ).alias("cand"),
        )
    )
    blocklist = (
        docs.select("source")
        .distinct()
        .where(
            F.regexp_extract(F.col("source"), r"([0-9]+)$", 1).cast("int") % 3
            == 0
        )
        .select(F.concat(F.col("source"), F.lit(".example.com")).alias("domain"))
    )
    hits = (
        cand.join(F.broadcast(blocklist), cand.cand == blocklist.domain)
        .groupBy("doc_id")
        .agg(F.min("cand").alias("rule"))
    )
    return (
        d.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "host",
            F.col("rule").isNotNull().alias("blocked"),
            "rule",
        )
        .orderBy("doc_id")
    )


# Gopher-rule thresholds (Rae et al. 2021 §A1.1, adapted to the fixture's
# scale: the synthetic corpus is 10-99 tokens, so the length band is
# shifted down from Gopher's 50-100k words).
QF_MIN_TOKENS = 15
QF_MAX_TOKENS = 5000
QF_MIN_MEAN_TOK_LEN = 2.0
QF_MAX_MEAN_TOK_LEN = 10.0
QF_MAX_DUP_RATIO = 0.005
QF_MIN_STOP_HITS = 1  # docs with zero stopwords are boilerplate/navigation
QF_STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]


def quality_filter(spark: SparkSession, t) -> DataFrame:
    """Composite Gopher-style document filter: every rule evaluated in
    ONE map-only pass (no shuffle), emitting the keep/drop verdict plus
    the failed-rule names — the audit trail a production filter keeps
    so dropped-data rates are attributable per rule. Rules: token-count
    band, mean-token-length band, duplicate 3-gram ratio (the
    :func:`dup_ngram_ratio` signal), and a minimum stopword hit count.

    One Arrow-batched mapInPandas computes every signal, for the reason
    :func:`dup_ngram_ratio` gives: the trigram array HOFs of a Catalyst
    formulation run interpreted, ~22x slower per row (BENCH.md)."""
    docs = t["documents"].select("doc_id", "text")
    stopset = frozenset(QF_STOPWORDS)

    def fn(batches):
        for pdf in batches:
            out = {"doc_id": [], "n_tokens": [], "mean_tok_len": [],
                   "dup_ratio": [], "stop_hits": [], "failed_rules": [],
                   "keep": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = tokenize(text)
                n = len(toks)
                mean_len = sum(len(x) for x in toks) / max(n, 1)
                ng, nd = _ngram_counts(toks)
                dup = 1.0 - nd / ng if ng else 0.0
                stops = sum(1 for x in toks if x in stopset)
                fails = []
                if n < QF_MIN_TOKENS or n > QF_MAX_TOKENS:
                    fails.append("length")
                if (
                    mean_len < QF_MIN_MEAN_TOK_LEN
                    or mean_len > QF_MAX_MEAN_TOK_LEN
                ):
                    fails.append("mean_tok_len")
                if dup > QF_MAX_DUP_RATIO:
                    fails.append("dup_ngrams")
                if stops < QF_MIN_STOP_HITS:
                    fails.append("stopwords")
                out["doc_id"].append(doc_id)
                out["n_tokens"].append(n)
                out["mean_tok_len"].append(round(mean_len, 6))
                out["dup_ratio"].append(round(dup, 6))
                out["stop_hits"].append(stops)
                # Serialized audit trail (comma-joined, rule order
                # fixed): the repo-wide convention for list outputs, so
                # the result canonicalizes cleanly in pandas comparators.
                out["failed_rules"].append(",".join(fails))
                out["keep"].append(not fails)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        fn,
        "doc_id long, n_tokens int, mean_tok_len double, dup_ratio double, "
        "stop_hits int, failed_rules string, keep boolean",
    ).orderBy("doc_id")


MIX_QUOTAS = {"src0": 20, "src1": 10}
MIX_DEFAULT_QUOTA = 3


def sample_mixture(
    spark: SparkSession, t, quotas: dict | None = None,
    default_quota: int = MIX_DEFAULT_QUOTA,
) -> DataFrame:
    """Deterministic domain-mixture sampling (training-data
    reweighting): per source, keep the ``quota`` docs with the smallest
    deterministic doc_id hash. Seeded ``df.sample`` changes with
    partitioning and cluster size; this mixture is bit-stable at ANY
    parallelism — the property that makes a data recipe reproducible.
    One window per source partition; the hash order also makes quota
    INCREASES monotone (a bigger budget keeps every previously
    sampled doc — incremental recipe growth)."""
    quotas = MIX_QUOTAS if quotas is None else quotas
    d = t["documents"]
    h = ((F.col("doc_id") % MOD + 1) * FP_MULT) % MOD
    quota = F.lit(int(default_quota))
    for s, q in sorted(quotas.items()):
        quota = F.when(F.col("source") == s, F.lit(int(q))).otherwise(quota)
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        d.select("doc_id", "source", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= quota)
        .select("doc_id", "source", F.col("rk").alias("sample_rank"))
        .orderBy("source", "sample_rank")
    )


def training_order(spark: SparkSession, t) -> DataFrame:
    """Deterministic global training-order shuffle: a reproducible
    pseudorandom permutation of the corpus — the order documents are
    fed to the trainer. Seeded ``orderBy(rand())`` is partitioning-
    dependent; this permutation is a pure function of doc_id
    (``((doc_id % M + 1) * FP_MULT) % M``, M prime, gcd(FP_MULT,M)=1 so
    the map is injective below M — no tie exists), hence bit-identical
    across re-runs, partitionings, and cluster sizes, and any corpus
    SUBSET keeps its relative order (resumable epochs).

    The rank is materialized by the same order-preserving-bucket
    prefix-sum machinery the ingest path uses for doc_id assignment
    (``operators/ingest.py::assign_doc_ids`` — NO global window, no
    single-partition sort: buckets rank in parallel and shift by
    driver-side per-bucket offsets). At 100 TB the production form
    skips the explicit rank entirely: ``repartitionByRange(perm_key)``
    + ``sortWithinPartitions`` + write, files emerge in permuted order;
    the rank column here exists so the permutation is hash-checkable
    against the oracle's ``row_number() OVER (ORDER BY perm_key)``."""
    from unichem2index_spark.operators.ingest import assign_doc_ids

    d = t["documents"]
    perm = ((F.col("doc_id") % MOD + 1) * FP_MULT) % MOD
    base = d.select(
        F.col("doc_id").alias("orig_doc_id"),
        perm.alias("perm_key"),
        # lexicographic rank key == numeric order (MOD < 10^10)
        F.lpad(perm.cast("string"), 10, "0").alias("perm_str"),
    )
    ranked = assign_doc_ids(base, key="perm_str")
    return ranked.select(
        F.col("orig_doc_id").alias("doc_id"),
        "perm_key",
        F.col("doc_id").alias("train_order"),
    ).orderBy("train_order")


# below the fixture's 25 docs/source so the gate exercises the filter
DOMAIN_CAP = 15


def domain_cap(
    spark: SparkSession, t, cap: int = DOMAIN_CAP
) -> DataFrame:
    """Per-domain document cap: keep at most ``cap`` docs per source
    domain, selected by the same deterministic hash permutation
    :func:`training_order` uses (an unbiased per-domain sample, not
    "first N by crawl order" — crawl order correlates with seed URLs).
    The standard anti-domination step of web-scale training mixes
    (C4/Gopher-style per-domain limits): without it the head domains
    swamp the mixture.

    Scale shape: ONE row_number window partitioned by source —
    state per partition is O(cap) after the rank filter, and the
    shuffle key is the domain, the same key the mixture stages
    already use. A pathological mega-domain is one skewed partition;
    the production escape hatch is pre-aggregating a per-source count
    and only windowing sources over the cap (the others pass
    unranked) — the filter here keeps the semantics hash-checkable."""
    from pyspark.sql.window import Window

    d = t["documents"]
    perm = ((F.col("doc_id") % MOD + 1) * FP_MULT) % MOD
    w = Window.partitionBy("source").orderBy(
        perm.asc(), F.col("doc_id").asc()
    )
    return (
        d.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= int(cap))
        .orderBy("source", "rk")
    )


TOKEN_BUDGET = 8000


def token_budget_sample(
    spark: SparkSession, t, budget: int = TOKEN_BUDGET
) -> DataFrame:
    """Token-budget corpus sampling: walk the corpus in the
    deterministic :func:`training_order` permutation and keep documents
    while the RUNNING token total stays ≤ ``budget`` — "give me a
    bias-free N-token slice of this corpus", the op every scaled-down
    ablation or data-mix experiment starts with. Permutation order (not
    doc_id order) so the slice is an unbiased sample; deterministic so
    the same budget always yields the same slice and a bigger budget
    yields a SUPERSET (monotone, resumable — the training_order
    contract).

    The cumulative sum is one window over the permutation key. At
    100 TB the production form replaces the global window with the
    ingest prefix-sum machinery (per-range-bucket token totals,
    driver-side offsets — the assign_doc_ids pattern), or simply
    prunes whole permuted-range FILES until the budget boundary file;
    the window here keeps the semantics hash-checkable. Token counts
    are the analyzer's (tokens_col), not whitespace guesses."""
    d = t["documents"]
    perm = ((F.col("doc_id") % MOD + 1) * FP_MULT) % MOD
    from pyspark.sql.window import Window

    toks = d.select(
        "doc_id",
        perm.alias("perm_key"),
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.orderBy("perm_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn("running", F.sum("n_tokens").over(w))
        .where(F.col("running") <= int(budget))
        .select("doc_id", "n_tokens", "running")
        .orderBy("running")
    )


# Stratified eval fraction as an exact integer ratio (the FIS lesson:
# compare rk*DEN <= n*NUM, never floats).
STRAT_EVAL_NUM = 1
STRAT_EVAL_DEN = 10


def stratified_split(spark: SparkSession, t) -> DataFrame:
    """Stratified train/eval split: every source domain contributes
    EXACTLY ``floor(n_src * 1/10)`` eval docs — the guarantee a global
    hash split (:func:`train_eval_split`) gives only in expectation.
    Strata with fewer than 10 docs contribute zero eval docs rather
    than losing a whole tiny domain's train data, the standard small-
    stratum rule. Within a stratum, eval membership follows the same
    deterministic hash permutation the sampling ops use, so the split
    is an unbiased per-domain sample, stable across re-runs and
    partitionings, and monotone in the fraction.

    Eligibility is the exact integer comparison ``rk * DEN <= n * NUM``
    (no float ratio can flip a boundary doc between engines). Scale
    shape: one row_number window + one count window on the SAME
    domain-keyed partitioning — a single shuffle, and the domain key
    is the one the mixture stages already use."""
    from pyspark.sql.window import Window

    d = t["documents"]
    perm = ((F.col("doc_id") % MOD + 1) * FP_MULT) % MOD
    w = Window.partitionBy("source").orderBy(perm.asc(), F.col("doc_id").asc())
    wall = Window.partitionBy("source")
    return (
        d.select("source", "doc_id")
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .select(
            "doc_id",
            "source",
            F.when(
                F.col("_rk") * STRAT_EVAL_DEN
                <= F.col("_n") * STRAT_EVAL_NUM,
                "eval",
            )
            .otherwise("train")
            .alias("split"),
        )
        .orderBy("source", "doc_id")
    )


VOCAB_TOP_V = 50


def vocab_coverage(spark: SparkSession, t, top_v: int = VOCAB_TOP_V) -> DataFrame:
    """Tokenizer-fit diagnostic: build the top-``V`` corpus vocabulary
    by collection frequency (cf desc, term asc — deterministic cut),
    then measure each source domain's OOV rate — the fraction of token
    OCCURRENCES outside the vocabulary. The number a tokenizer/vocab
    training loop watches: a domain with a high OOV rate under the
    candidate vocab will fragment into bytes/unknowns at training time.

    Scale shape: pass 1 is the corpus cf agg cut to V rows (a
    broadcast-size frame by construction — V is the vocab budget, not
    data-dependent); pass 2 joins the exploded tokens against that
    broadcast and folds per-source counts in ONE hash agg. Exact
    integer counts, one float divide at emit."""
    d = t["documents"]
    toks = d.select("source", F.explode(tokens_col("text")).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(int(top_v))
        .select("term", F.lit(True).alias("_in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "term", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("_in_vocab").isNull(), 1)).alias(
                "oov_tokens"
            ),
        )
        .select(
            "source",
            "n_tokens",
            "oov_tokens",
            F.round(
                F.col("oov_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# Span-corruption schedule: a position STARTS a masked span iff its
# per-(doc, pos) hash % START_DEN == 0; spans run SPAN_LEN tokens.
# 1/20 starts x 3-token spans ~= 15% corruption, the T5 default.
SPAN_START_DEN = 20
SPAN_LEN = 3
_POS_MIX = 1_000_003  # prime position mixer; (MOD * _POS_MIX) < 2^62


def span_corruption(spark: SparkSession, t) -> DataFrame:
    """T5-style span-corruption mask planning: for each document,
    decide which token positions a denoising objective masks — spans
    of ``SPAN_LEN`` tokens whose starts fire on a deterministic
    per-(doc_id, position) hash at rate 1/``SPAN_START_DEN`` (≈15%
    corruption at the defaults, the T5 recipe). Emits per-doc
    n_tokens / n_masked / the masked position list (serialized — canon
    rule). Deterministic: the SAME doc always gets the SAME mask at
    any parallelism — the property that makes training resumable and
    eval masks reproducible.

    Scale shape: a position is masked iff one of its previous
    ``SPAN_LEN`` positions (itself included) is a span start, and the
    start test is a pure integer hash — so membership is SPAN_LEN
    hash evaluations per token, ALL map-side expressions after the
    posexplode (no window, no self-join, no Python); one hash agg
    folds the per-doc summary."""
    d = t["documents"]
    pos_tok = d.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "token")
    )

    def _start(p):
        h = (
            (F.col("doc_id") % MOD) * _POS_MIX + p
        ) % MOD
        return ((h + 1) * FP_MULT % MOD % SPAN_START_DEN == 0) & (p >= 0)

    masked = _start(F.col("pos"))
    for k in range(1, SPAN_LEN):
        masked = masked | _start(F.col("pos") - k)
    return (
        pos_tok.withColumn("_m", masked)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("_m"), 1)).alias("n_masked"),
            # sort as INTS then stringify (string sort would put
            # "10" before "2"); concat_ws needs array<string>
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.when(F.col("_m"), F.col("pos")))
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("masked_positions"),
        )
        .orderBy("doc_id")
    )


def bigram_lm(spark: SparkSession, t, size: int = 20) -> DataFrame:
    """Corpus bigram language-model table: (w1, w2) counts and the
    exact conditional probability P(w2 | w1) = count(w1 w2) /
    count(w1 ·) — the statistics a CCNet-style LM filter or a
    next-token baseline trains from the corpus itself. Top-``size``
    bigrams by count (count desc, w1/w2 asc — deterministic cut).

    Scale shape: bigrams come from zipping each token array with its
    own 1-shifted self (``arrays_zip(slice, slice)`` — map-side, no
    positional self-join, no window); the denominator joins in from a
    SECOND aggregate over the same pair frame (w1-margin), vocab-sized
    and broadcastable. ONE float divide at emit; everything before it
    is exact integers."""
    d = t["documents"]
    pairs = (
        d.select(tokens_col("text").alias("tokens"))
        .where(F.size("tokens") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tokens) - 1),"
                    " i -> struct(tokens[i - 1] AS w1, tokens[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_n"))
    marg = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("w1_n"))
    return (
        big.join(marg, "w1")
        .select(
            "w1",
            "w2",
            "pair_n",
            "w1_n",
            F.round(
                F.col("pair_n").cast("double") / F.col("w1_n").cast("double"),
                6,
            ).alias("cond_p"),
        )
        .orderBy(F.desc("pair_n"), F.asc("w1"), F.asc("w2"))
        .limit(size)
    )


def doc_perplexity(spark: SparkSession, t) -> DataFrame:
    """Per-document bigram LM quality score: bits per token under the
    corpus's OWN bigram model (the :func:`bigram_lm` table) —
    ``-1/n_bigrams · Σ log2 P(w_i | w_{i-1})``. The bigram upgrade of
    :func:`~unichem2index_spark.operators.textstats.unigram_surprisal`
    and the deterministic stand-in for CCNet's KenLM perplexity
    bucketing: repetitive boilerplate scores LOW (its bigrams dominate
    their left-margin), rare-transition gibberish scores HIGH. No
    smoothing is needed because the model is trained on the corpus
    being scored — every doc bigram has pair_n >= 1 by construction.

    Float-determinism: same discipline as ``unigram_surprisal`` — the
    per-doc sum of logs runs as an explicit sequential fold over the
    doc's distinct bigrams sorted by (w1, w2), identical on both
    engines; one round(6) at emit absorbs libm ULP.

    Scale shape: the corpus bigram/margin tables are the same two hash
    aggs :func:`bigram_lm` builds (vocab²-bounded, heavily map-side
    combined); the per-doc join keys on (w1, w2) — no window, no
    self-join — and the fold is map-side over each doc's bounded
    distinct-bigram array."""
    d = t["documents"]
    pairs = (
        d.select("doc_id", tokens_col("text").alias("tokens"))
        .where(F.size("tokens") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tokens) - 1),"
                    " i -> struct(tokens[i - 1] AS w1, tokens[i] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    dtf = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_n"))
    marg = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("w1_n"))
    parts = (
        dtf.join(big, ["w1", "w2"])
        .join(marg, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sort_array(
                F.collect_list(
                    F.struct("w1", "w2", "cnt", "pair_n", "w1_n")
                )
            ).alias("parts"),
        )
    )
    fold = F.aggregate(
        "parts",
        F.lit(0.0),
        lambda acc, s: acc
        + s["cnt"].cast("double")
        * F.log(s["w1_n"].cast("double") / s["pair_n"].cast("double")),
    )
    return parts.select(
        "doc_id",
        "n_bigrams",
        F.round(
            fold / F.log(F.lit(2.0)) / F.col("n_bigrams").cast("double"), 6
        ).alias("bits_per_token"),
    ).orderBy("doc_id")


# Derived-paragraph constants shared with the generated oracle SQL.
# The synthetic corpus is newline-free, so "paragraphs" are fixed
# PARA_CHUNK-token chunks; on real webtext the chunker is split('\n').
PARA_CHUNK = 10
# Boilerplate lines: BOILER_CHUNK-token non-overlapping chunks seen in
# >= BOILER_MIN_DOCS distinct documents of the same source.
BOILER_CHUNK = 3
BOILER_MIN_DOCS = 2


def paragraph_dedup(spark: SparkSession, t) -> DataFrame:
    """Corpus-wide duplicate-paragraph removal — the C4/RefinedWeb
    "remove repeated lines across the corpus" pass (ref analog: the
    extractor's per-record clean step, extractor/extractor.go, scaled
    from per-row to corpus-global). Keep-first semantics: the earliest
    (doc_id, paragraph_index) occurrence of each paragraph survives;
    every later occurrence anywhere in the corpus is dropped.

    Scale shape (the part that matters at 100 TB): the shuffle for the
    global keep-first carries ONLY (md5 digest, doc_id, idx) — 16-byte
    key + two longs per paragraph, never the paragraph text. The clean
    document is rebuilt map-side AFTER the verdict comes back, by
    re-slicing the original token array at the kept indices — the text
    itself stays co-partitioned with the source scan and is never
    exchanged. One shuffle on the digest (skew-safe: md5 is uniform),
    one shuffle back on doc_id.
    """
    d = t["documents"]
    base = (
        d.select("doc_id", tokens_col("text").alias("toks"))
        .where(F.size("toks") > 0)
    )
    n = PARA_CHUNK
    ex = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(floor((size(toks) - 1) / {n})"
                f" AS INT)), i -> md5(concat_ws(' ',"
                f" slice(toks, i * {n} + 1, {n}))))"
            )
        ).alias("idx", "h"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("h").orderBy("doc_id", "idx")
    verdict = ex.withColumn("rn", F.row_number().over(w)).select(
        "doc_id",
        "idx",
        (F.col("rn") == 1).alias("keep"),
    )
    per_doc = verdict.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sort_array(
            F.collect_list(F.when(F.col("keep"), F.col("idx")))
        ).alias("kept_idx"),
    )
    rebuilt = per_doc.join(base, "doc_id").select(
        "doc_id",
        "n_paras",
        "n_kept",
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    f"transform(kept_idx, i -> concat_ws(' ',"
                    f" slice(toks, i * {n} + 1, {n})))"
                ),
            )
        ).alias("clean_fp"),
    )
    return rebuilt.orderBy("doc_id")


def boilerplate_strip(spark: SparkSession, t) -> DataFrame:
    """Within-source boilerplate-line removal: a line (non-overlapping
    BOILER_CHUNK-token chunk) that appears in >= BOILER_MIN_DOCS
    distinct documents of the SAME source is navigation/footer
    boilerplate and is stripped from every document of that source —
    the per-site template-removal pass of a web-crawl pipeline.

    Scale shape: line df is a hash agg over (source, digest) with full
    map-side combine; the boilerplate SET (lines with df >= K) is a
    tiny high-df tail, so the verdict join back to the exploded lines
    is a BROADCAST anti-join — the only wide exchange is the df agg on
    the 16-byte digest. Rebuild is the same map-side re-slice as
    :func:`paragraph_dedup` (text is never shuffled).
    """
    d = t["documents"]
    base = (
        d.select("doc_id", "source", tokens_col("text").alias("toks"))
        .where(F.size("toks") > 0)
    )
    n = BOILER_CHUNK
    ex = base.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(floor((size(toks) - 1) / {n})"
                f" AS INT)), i -> md5(concat_ws(' ',"
                f" slice(toks, i * {n} + 1, {n}))))"
            )
        ).alias("idx", "h"),
    )
    boiler = (
        ex.groupBy("source", "h")
        .agg(F.countDistinct("doc_id").alias("df_docs"))
        .where(F.col("df_docs") >= BOILER_MIN_DOCS)
        .select("source", "h")
    )
    verdict = ex.join(
        F.broadcast(boiler).withColumn("is_boiler", F.lit(True)),
        ["source", "h"],
        "left",
    ).select(
        "doc_id",
        "idx",
        F.coalesce("is_boiler", F.lit(False)).alias("boiler"),
    )
    per_doc = verdict.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("boiler").cast("long")).alias("n_boiler"),
        F.sort_array(
            F.collect_list(F.when(~F.col("boiler"), F.col("idx")))
        ).alias("kept_idx"),
    )
    rebuilt = per_doc.join(base, "doc_id").select(
        "doc_id",
        "n_lines",
        "n_boiler",
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    f"transform(kept_idx, i -> concat_ws(' ',"
                    f" slice(toks, i * {n} + 1, {n})))"
                ),
            )
        ).alias("clean_fp"),
    )
    return rebuilt.orderBy("doc_id")


def perplexity_buckets(spark: SparkSession, t) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: rank every document by
    its corpus-bigram perplexity (:func:`doc_perplexity`) WITHIN its
    language and cut each language into perplexity terciles — head =
    fluent (lowest bits/token), tail = noisiest. Training mixtures
    up-weight head and drop tail.

    Determinism: the tercile cut is ntile(3) over a total order
    (bits_per_token, doc_id) — no ties to break arbitrarily; the
    emitted per-bucket stats are count/min/max (exact picks, no
    float summation, so no cross-engine ULP risk).

    Scale shape: the LM costs are :func:`doc_perplexity`'s (two
    vocab^2-bounded hash aggs + one bounded join); the tercile is one
    window partitioned BY LANGUAGE — ~dozens of partitions each
    sorted independently, never a single global sort.
    """
    from pyspark.sql.window import Window

    ppl = doc_perplexity(spark, t)
    langs = t["documents"].select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("bits_per_token", "doc_id")
    tiled = (
        ppl.join(langs, "doc_id")
        .withColumn("tile", F.ntile(3).over(w))
        .withColumn(
            "bucket",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("tile"),
            ),
        )
    )
    return (
        tiled.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("bits_per_token").alias("min_bits"),
            F.max("bits_per_token").alias("max_bits"),
        )
        .orderBy("lang", "bucket")
    )


def bpe_first_merge(spark: SparkSession, t, size: int = 20) -> DataFrame:
    """The first step of BPE tokenizer training: corpus-weighted
    adjacent-character-pair counts over the word-type vocabulary (the
    pair with the max count becomes merge #1). Tokenizer training is
    part of the training-data pipeline proper — the vocab is fit ON the
    corpus being prepared.

    Pairs are 2-char substrings (``substring(term, i, 2)``) weighted by
    word frequency — identical 1-based semantics on both engines, no
    char-split dialect divergence. Scale shape: the vocab agg is the
    same map-side-combined (term, freq) hash agg the index builder
    runs; pair explosion is over word TYPES (vocab-bounded, not corpus-
    bounded), then one small hash agg — at 100 TB the heavy input pass
    is the vocab count, everything after is megabytes."""
    d = t["documents"]
    words = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.length("term") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(term) - 1),"
                " i -> substring(term, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(size)
    )


RAG_CHUNK_TOKENS = 32
RAG_CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def rag_chunks(spark: SparkSession, t) -> DataFrame:
    """Sliding-window chunking for retrieval corpora (RAG prep): fixed
    RAG_CHUNK_TOKENS-token windows every RAG_CHUNK_STRIDE tokens (8-token
    overlap so no answer span straddles a boundary unseen). Emits one row
    per chunk with its token offset, length, and content fingerprint —
    the table an embedding job consumes downstream.

    Map-only: each doc's chunk list derives from its own token array
    (``transform(sequence(...))`` + ``posexplode``) with NO shuffle; at
    100 TB this runs at scan speed and the embedding fan-out inherits
    the source partitioning. The output ORDER BY exists only for the
    bounded gate frame."""
    d = t["documents"]
    base = d.select("doc_id", tokens_col("text").alias("toks")).where(
        F.size("toks") > 0
    )
    n, s = RAG_CHUNK_TOKENS, RAG_CHUNK_STRIDE
    ex = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(floor((size(toks) - 1) / {s})"
                f" AS INT)), i -> struct(i * {s} + 1 AS start_tok,"
                f" size(slice(toks, i * {s} + 1, {n})) AS n_toks,"
                f" md5(concat_ws(' ', slice(toks, i * {s} + 1, {n}))) AS fp))"
            )
        ).alias("chunk_id", "c"),
    )
    return ex.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("c.start_tok").cast("long").alias("start_tok"),
        F.col("c.n_toks").cast("long").alias("n_toks"),
        F.col("c.fp").alias("fp"),
    ).orderBy("doc_id", "chunk_id")


def dup_line_chars_ratio(spark: SparkSession, t) -> DataFrame:
    """Gopher repetition rule at LINE granularity: the fraction of a
    document's characters inside duplicate lines (fixed 10-token chunks
    standing in for lines; WITHIN-document duplicates, unlike the
    corpus-global :func:`paragraph_dedup`). Gopher drops docs with more
    than 0.30 of characters in duplicate lines; emitted with the keep
    verdict. A line is a duplicate iff an identical line occurs earlier
    in the same document (``array_position`` = first occurrence, so the
    first copy never counts — Gopher's accounting).

    Map-only JVM array expressions (zip_with + aggregate), no shuffle,
    no Python workers: per-doc state is the doc's own line list, so the
    pass runs at scan speed at any corpus size."""
    d = t["documents"]
    base = d.select("doc_id", tokens_col("text").alias("toks")).where(
        F.size("toks") > 0
    )
    lines = F.expr(
        "transform(sequence(0, CAST(floor((size(toks) - 1) / 10) AS INT)),"
        " i -> concat_ws(' ', slice(toks, i * 10 + 1, 10)))"
    )
    w = base.select("doc_id", lines.alias("lines"))
    # chars in lines whose FIRST occurrence index is earlier (1-based i).
    dup_chars = F.expr(
        "aggregate(zip_with(lines, sequence(1, size(lines)),"
        " (x, i) -> IF(array_position(lines, x) < i, length(x), 0)),"
        " 0, (acc, v) -> acc + v)"
    )
    tot_chars = F.expr(
        "aggregate(transform(lines, x -> length(x)), 0, (a, v) -> a + v)"
    )
    ratio = F.when(
        tot_chars > 0, dup_chars.cast("double") / tot_chars.cast("double")
    ).otherwise(F.lit(0.0))
    return w.select(
        "doc_id",
        dup_chars.cast("long").alias("dup_chars"),
        tot_chars.cast("long").alias("total_chars"),
        F.round(ratio, 6).alias("dup_ratio"),
        (ratio <= 0.30).alias("keep"),
    ).orderBy("doc_id")


def url_normalize_dedup(spark: SparkSession, t, k: int = 50) -> DataFrame:
    """CommonCrawl-style URL canonicalization + dedup inventory: strip
    the query string, the "www." host prefix, and the trailing slash,
    lowercase, then group — re-crawls of the same page under tracking
    parameters / host aliases collapse to one canonical key. Emits the
    duplicate groups (n_dups >= 2) with the kept doc (min doc_id) —
    the decision table a crawl-dedup pass writes.

    The corpus has no url column, so a synthetic url derives
    deterministically from (source, doc_id) with planted variant noise
    (query-string suffix at doc_id%4==0, trailing slash at %5==0,
    uppercased host at %7==0, "www." at %3==0) — the identical
    expression renders in the oracle, the pii_scrub discipline, so the
    normalization is provably non-vacuous. On real webtext the url
    column replaces the synthesis; the normalization and group plan
    are unchanged.

    Scale shape: synthesis + normalization are map-side string
    expressions; ONE hash agg on the canonical url (urls are short;
    the 100-TB variant keys on md5(canon_url) and carries min(url),
    the dedup_exact digest discipline); top-k bounds the frame."""
    d = t["documents"]
    raw = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0, F.upper(F.col("source"))
        ).otherwise(F.col("source")),
        F.lit(".example.com/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed&ref=rss")
        ).otherwise(F.lit("")),
    )
    norm = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), r"\?.*$", ""),
            r"^https://www\.",
            "https://",
        ),
        r"/$",
        "",
    )
    groups = (
        d.select(norm.alias("canon_url"), "doc_id")
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
        .where(F.col("n_dups") >= 2)
    )
    return groups.orderBy(
        F.desc("n_dups"), F.asc("canon_url")
    ).limit(k)


def negative_sampling_table(spark: SparkSession, t, k: int = 50) -> DataFrame:
    """word2vec negative-sampling table (Mikolov et al. 2013): draw
    probability ∝ count^0.75, emitted as an inverse-CDF table (term,
    count, prob, cum_prob) ordered by (count desc, term) — the exact
    structure the trainer samples against with a uniform draw.

    Float discipline: count^0.75 is computed as sqrt(sqrt(c*c*c)) —
    sqrt is IEEE-754 correctly-rounded, unlike libm pow, so both
    engines produce bit-identical weights; the CDF is a running-window
    sum over the SAME (count desc, term) order on both engines, and
    the normalizer is max(cum) of that fold (positive increments, so
    the last partial sum), never a separately-ordered SUM().

    Scale shape: one map-side-combined vocab agg; the running sum is a
    single-partition window over |vocab| rows (vocabulary, not corpus —
    bounded; the two-level prefix-sum in terms_partition_agg is the
    documented drop-in if vocab ever outgrows one task)."""
    from pyspark.sql import Window

    docs = t["documents"]
    vocab = (
        docs.select(F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = F.col("cnt").cast("double")
    w = Window.orderBy(F.desc("cnt"), F.asc("term")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        vocab.withColumn("raw", F.sqrt(F.sqrt(c * c * c)))
        .withColumn("cum_raw", F.sum("raw").over(w))
    )
    total = cum.agg(F.max("cum_raw").alias("tot"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "term",
            "cnt",
            F.round(F.col("raw") / F.col("tot"), 9).alias("prob"),
            F.round(F.col("cum_raw") / F.col("tot"), 9).alias("cum_prob"),
        )
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(k)
    )


def crawl_snapshot_diff(spark: SparkSession, t) -> DataFrame:
    """Cross-dump crawl reconciliation: diff two crawl snapshots of the
    same url space by content fingerprint and classify every url as
    added / gone / changed / unchanged, counted per (source, status) —
    the accounting step a recurring web crawl runs between dumps to
    size its re-fetch and dedup work (CommonCrawl-style monthly dumps).

    The corpus is a single snapshot, so the two dumps are DERIVED
    deterministically: dump A omits urls with doc_id % 11 == 0 (not yet
    crawled), dump B omits doc_id % 7 == 3 (dropped from the crawl) and
    re-fetches doc_id % 5 == 0 with changed content — identical
    expressions in the DuckDB oracle, so every status class is
    populated and the hash is non-vacuous.

    Scale shape: one full-outer join on url (hash-partitioned; both
    sides are (url, 16-byte fp) projections, never the text) and one
    tiny (source, status) agg — at two 10^12-doc dumps this is the
    minimal-width shuffle for the question asked."""
    docs = t["documents"]
    url = F.concat(F.col("source"), F.lit("/"), F.col("doc_id"))
    a = docs.where(F.col("doc_id") % 11 != 0).select(
        url.alias("url"), F.col("source").alias("src_a"),
        F.md5(F.col("text").cast("binary")).alias("fp_a"),
    )
    b = docs.where(F.col("doc_id") % 7 != 3).select(
        url.alias("url"), F.col("source").alias("src_b"),
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" [revised]")),
            ).otherwise(F.col("text")).cast("binary")
        ).alias("fp_b"),
    )
    j = a.join(b, "url", "full_outer")
    status = (
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("gone"))
        .when(F.col("fp_a") != F.col("fp_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce("src_a", "src_b").alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .orderBy("source", "status")
    )


ROBOTS_PATH_LEN = 3


def robots_filter(spark: SparkSession, t) -> DataFrame:
    """Robots-exclusion verdict per crawled url (REP longest-match, RFC
    9309 s2.2.2): each url's path is matched against its host's rule
    set; the LONGEST matching prefix wins, an Allow rule wins a length
    tie (the least-restrictive tie-break), and no match means allow.
    Emitted as (source, verdict) counts - the crawl-scope accounting a
    fetch scheduler runs before enqueueing (ref analog: the reference
    gates its fetch loop on source liveness, extractor/init.go - here
    the gate is the per-host exclusion protocol itself).

    The corpus carries no paths or robots.txt bodies, so both are
    DERIVED deterministically: url path = '/' + first 3 hex chars of
    md5(doc_id); each host publishes three rules - Disallow the 1-hex
    prefix of md5(host), Allow the 2-hex prefix (strictly longer, so it
    punches an allow-hole inside the disallow subtree - the classic
    pattern naive matchers get wrong), and Disallow a second 1-hex
    branch. Identical expressions in the DuckDB oracle, so all four
    (rule-hit x verdict) shapes are populated and the hash is
    non-vacuous.

    Longest-match-with-tie-break is encoded ordinally: best =
    max(2*len(prefix) + allowed) over matching rules, so ONE max-agg
    replaces a per-url sort over rule hits. Scale shape: rules are
    O(hosts) and broadcast; each url fans to exactly |rules-per-host|
    rows of (url, small-int) and the verdict agg reduces straight back
    - no shuffle ever carries text, and at 10^12 urls this is one
    broadcast join + two narrow aggs."""
    docs = t["documents"]
    urls = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("/"),
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")),
                1,
                ROBOTS_PATH_LEN,
            ),
        ).alias("path"),
    )
    h = F.md5(F.col("source").cast("binary"))
    rules = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("/"), F.substring(h, 1, 1)).alias("prefix"),
                        F.lit(0).alias("allowed"),
                    ),
                    F.struct(
                        F.concat(F.lit("/"), F.substring(h, 1, 2)).alias("prefix"),
                        F.lit(1).alias("allowed"),
                    ),
                    F.struct(
                        F.concat(F.lit("/"), F.substring(h, 9, 1)).alias("prefix"),
                        F.lit(0).alias("allowed"),
                    ),
                )
            ).alias("r"),
        )
        .select("source", "r.prefix", "r.allowed")
    )
    best = (
        urls.join(F.broadcast(rules), "source", "left")
        .groupBy("source", "doc_id")
        .agg(
            F.max(
                F.when(
                    F.col("path").startswith(F.col("prefix")),
                    F.length("prefix") * 2 + F.col("allowed"),
                )
            ).alias("best")
        )
    )
    verdict = F.when(
        F.col("best").isNull() | (F.col("best") % 2 == 1), F.lit("allow")
    ).otherwise(F.lit("disallow"))
    return (
        best.select("source", verdict.alias("verdict"))
        .groupBy("source", "verdict")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .orderBy("source", "verdict")
    )


NORM_SRC = "\u00e0\u00e1\u00e2\u00e3\u00e4\u00e5\u00e8\u00e9\u00ea\u00eb\u00ec\u00ed\u00ee\u00ef\u00f2\u00f3\u00f4\u00f5\u00f6\u00f9\u00fa\u00fb\u00fc\u00e7\u00f1\u00fd\u00ff"
NORM_DST = "aaaaaaeeeeiiiiooooouuuucnyy"
NORM_INJ_PRE = "Caf\u00e9 R\u00e9sum\u00e9 "
NORM_INJ_SUF = " na\u00efve Z\u00fcrich"


def normalize_text(spark: SparkSession, t) -> DataFrame:
    """Unicode text normalization scan - the C4/FineWeb preprocessing
    step: casefold + diacritic folding + whitespace collapse, with a
    per-doc changed flag and a fingerprint of the normalized form.
    Folding uses an explicit confusable table (NORM_SRC -> NORM_DST) -
    the deterministic code-point-translate subset of NFKD+strip that
    both engines implement identically (full ICU NFKC is the documented
    production swap-in). The corpus is ASCII by construction, so
    accented spans are INJECTED deterministically by doc_id - identical
    expression in the oracle - keeping the fold non-vacuous.

    Map-only: lower/translate/regexp_replace are all JVM expressions;
    at 100 TB this runs at scan speed (the output sort is the gate's
    bounded frame)."""
    d = t["documents"]
    inj = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(NORM_INJ_PRE), F.col("text")),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(NORM_INJ_SUF)),
        )
        .otherwise(F.col("text"))
    )
    low = F.lower(inj)
    folded = F.translate(low, NORM_SRC, NORM_DST)
    norm = F.trim(F.regexp_replace(folded, r"\s+", " "))
    return d.select(
        "doc_id",
        (folded != low).cast("int").alias("folded"),
        F.length(norm).alias("n_chars_norm"),
        F.md5(norm.cast("binary")).alias("fp"),
    ).orderBy("doc_id")


SHARD_BYTES = 4096
SHARD_BLOCK = 256  # docs per level-1 prefix-sum block


def shard_manifest(spark: SparkSession, t) -> DataFrame:
    """WebDataset/MosaicML-style output shard manifest: assign docs to
    fixed byte-budget shards per source by RUNNING BYTE OFFSET (shard =
    floor(start_offset / SHARD_BYTES)) and emit the per-shard manifest
    row (doc count, bytes, id span) an export job writes alongside the
    data - the step that turns a cleaned corpus into the fixed-size
    shard files a training loader streams.

    Offsets are per-source prefix sums, computed in two levels so no
    task's work grows with the largest source (a single per-source
    window runs one task per source). Level 1: docs bucket into
    SHARD_BLOCK-sized id blocks and cumsum INSIDE each (source, block),
    bounded windows parallel across all blocks. Level 2: per-block
    totals, a frame |docs|/SHARD_BLOCK rows tall, cumsum per source to
    give each block its starting offset; recursing once more would
    bound it by SHARD_BLOCK^2. start_offset = block offset + local
    cumsum - own bytes."""
    from pyspark.sql.window import Window

    d = t["documents"].select(
        "source",
        "doc_id",
        "n_chars",
        (F.col("doc_id") / SHARD_BLOCK).cast("long").alias("blk"),
    )
    w_local = (
        Window.partitionBy("source", "blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = d.withColumn("local_cum", F.sum("n_chars").over(w_local))
    totals = d.groupBy("source", "blk").agg(
        F.sum("n_chars").alias("blk_bytes")
    )
    w_blk = (
        Window.partitionBy("source")
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "source",
        "blk",
        F.coalesce(F.sum("blk_bytes").over(w_blk), F.lit(0)).alias(
            "blk_off"
        ),
    )
    sh = local.join(offsets, ["source", "blk"]).select(
        "source",
        "doc_id",
        "n_chars",
        F.floor(
            (F.col("blk_off") + F.col("local_cum") - F.col("n_chars"))
            / SHARD_BYTES
        )
        .cast("long")
        .alias("shard_id"),
    )
    return (
        sh.groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "shard_id")
    )


SOFT404_PHRASES = "page not found|does not exist|no longer available|error 404"
SOFT404_MIN_CHARS = 64


def soft404_filter(spark: SparkSession, t) -> DataFrame:
    """Soft-404 detection (Bar-Yossef/Broder/Kumar/Tomkins, WWW'04 "Sic
    transit gloria telae"): web servers routinely answer HTTP 200 with
    an "oops, not found" body, and every crawl-derived corpus has to
    strip these before training. Detector = error-phrase match OR a
    suspiciously short body (< SOFT404_MIN_CHARS) — the two lexical
    signals a pipeline applies when it can't afford the paper's
    random-probe re-fetch.

    The corpus is clean synthetic text, so the condition is PLANTED
    deterministically (the crawl_snapshot_diff/robots_filter pattern):
    doc_id % 13 == 0 swaps in one of two error templates (alternating
    by doc_id % 2 so the phrase branch isn't single-valued) and
    doc_id % 17 == 5 truncates the body to 40 chars (a soft-404 with
    NO error phrase — only the length rule can catch it). Identical
    expressions in the DuckDB oracle keep every confusion cell
    populated: natural short docs are flagged too, which is exactly
    the length heuristic's documented false-positive class.

    Scale shape: one map-only pass per doc (template swap + regexp +
    length are JVM expressions on the text column) into a tiny
    (source, class, detected) count agg — at 10^12 pages this is a
    scan plus one narrow shuffle of three small columns, the minimal
    plan for the question. Ref analog: the reference gates extraction
    on per-row validity checks (extractor/extractor.go) — this is the
    crawl-side analog of that row gate."""
    docs = t["documents"]
    planted = (
        F.when(F.col("doc_id") % 13 == 0, F.lit("error_page"))
        .when(F.col("doc_id") % 17 == 5, F.lit("truncated"))
        .otherwise(F.lit("normal"))
    )
    body = (
        F.when(
            F.col("doc_id") % 13 == 0,
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(
                    "Error 404: the page you requested was not found"
                    " on this server."
                ),
            ).otherwise(
                F.lit(
                    "Sorry, this page does not exist or is no longer"
                    " available."
                )
            ),
        )
        .when(F.col("doc_id") % 17 == 5, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
    )
    staged = docs.select(
        "source", planted.alias("planted"), body.alias("body")
    )
    detected = F.lower(F.col("body")).rlike(SOFT404_PHRASES) | (
        F.length("body") < SOFT404_MIN_CHARS
    )
    return (
        staged.select("source", "planted", detected.alias("detected"))
        .groupBy("source", "planted", "detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "planted", "detected")
    )


URL_TLDS = ("com", "org", "net")


def url_features(spark: SparkSession, t) -> DataFrame:
    """Lexical URL feature extraction — the signal set URL-only quality
    classifiers train on (length, path depth, digit density, query
    strings, extension; cf. Baykan et al. WWW'09 "Purely URL-based
    topic classification"), aggregated per (source, tld) as the
    corpus-level feature audit a pipeline runs before fitting the
    classifier.

    The corpus stores no urls, so each doc's url is DERIVED
    deterministically (the robots_filter md5-path pattern):
    https://{source}.{tld}/{seg1[/seg2[/seg3]]}[.html][?q={doc_id}]
    with tld = URL_TLDS[doc_id % 3], depth = 1 + doc_id % 3 segments
    of 3 hex chars sliced from md5(doc_id), '.html' when doc_id % 5
    == 1, and a query string when doc_id % 6 == 0 — identical
    expressions in the DuckDB oracle, so every feature varies and the
    hash is non-vacuous.

    Scale shape: url synthesis + feature extraction are map-only JVM
    string expressions (md5, substring, concat, one digit-strip
    regexp), then a single narrow (source, tld) agg — at 10^12 urls
    one scan and one tiny shuffle. The digit count strips non-digits
    with a global regexp_replace (DuckDB needs the explicit 'g'
    flag), the one cross-engine regexp trap this file documents."""
    docs = t["documents"]
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    depth = (F.col("doc_id") % 3 + 1).cast("int")
    path = F.concat(
        F.lit("/"),
        F.substring(h, 1, 3),
        F.when(depth >= 2, F.concat(F.lit("/"), F.substring(h, 4, 3))).otherwise(F.lit("")),
        F.when(depth >= 3, F.concat(F.lit("/"), F.substring(h, 7, 3))).otherwise(F.lit("")),
    )
    tld = F.element_at(
        F.array(*[F.lit(x) for x in URL_TLDS]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("."),
        tld,
        path,
        F.when(F.col("doc_id") % 5 == 1, F.lit(".html")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.lit("?q="), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    feats = docs.select(
        "source",
        tld.alias("tld"),
        url.alias("url"),
        depth.cast("long").alias("path_depth"),
        (F.col("doc_id") % 5 == 1).cast("long").alias("is_html"),
        (F.col("doc_id") % 6 == 0).cast("long").alias("has_query"),
    ).select(
        "source",
        "tld",
        "path_depth",
        "is_html",
        "has_query",
        F.length("url").cast("long").alias("url_len"),
        F.length(F.regexp_replace("url", "[^0-9]", "")).cast("long").alias("n_digits"),
    )
    return (
        feats.groupBy("source", "tld")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.round(F.avg("url_len"), 6).alias("avg_url_len"),
            F.round(F.avg("n_digits"), 6).alias("avg_digits"),
            F.max("path_depth").alias("max_depth"),
            F.sum("has_query").cast("long").alias("n_query"),
            F.sum("is_html").cast("long").alias("n_html"),
        )
        .orderBy("source", "tld")
    )


C4_LINE_W = 7  # planted line width (tokens) — corpus has no newlines
C4_MIN_LINE_TOKENS = 5  # C4: retain lines with >= 5 words
C4_MIN_LINES = 3  # C4: drop pages with < 3 retained sentences


def c4_filter(spark: SparkSession, t) -> DataFrame:
    """C4 cleaning rules (Raffel et al. JMLR'20 §2.2 — the filter that
    built the T5 pretraining corpus): drop pages containing "lorem
    ipsum" or a curly brace (code), retain only "sentences" of >= 5
    words, and drop pages with < 3 retained sentences. Every modern
    webtext pipeline starts from some descendant of these rules.

    The corpus is one unbroken token stream (no newlines/periods), so
    the LINE STRUCTURE IS PLANTED deterministically (same convention
    as soft404_filter): lines are fixed windows of 7 tokens, and line
    i of doc d "ends with terminal punctuation" iff (d + i) % 3 != 0 —
    so the terminal-punct rule drops a third of lines and the final
    partial window usually fails the >= 5-words rule, keeping every
    branch populated. The lorem/brace conditions are planted as real
    text suffixes (doc_id % 7 == 1 / % 11 == 3, lorem wins ties) and
    re-DETECTED with LIKE, exercising the detector not the plant.

    Scale shape: map-only per doc (tokenize + two LIKEs + one
    fixed-depth lambda fold over the line index list) into a tiny
    per-source agg — one scan, one narrow shuffle at any corpus size.
    Ref analog: the reference's per-row validity gate
    (extractor/extractor.go) — this is the corpus-cleaning analog."""
    docs = t["documents"]
    body = (
        F.when(
            F.col("doc_id") % 7 == 1,
            F.concat(F.col("text"), F.lit(" Lorem ipsum dolor sit amet")),
        )
        .when(
            F.col("doc_id") % 11 == 3,
            F.concat(F.col("text"), F.lit(" var f = function() { return 1; }")),
        )
        .otherwise(F.col("text"))
    )
    staged = docs.select(
        "source", "doc_id", body.alias("body"),
        tokens_col(body).alias("toks"),
    ).select(
        "source",
        "doc_id",
        F.expr("lower(body) LIKE '%lorem ipsum%'").alias("has_lorem"),
        F.expr("body LIKE '%{%'").alias("has_brace"),
        F.size("toks").alias("n"),
        "toks",
    )
    w, m = C4_LINE_W, C4_MIN_LINE_TOKENS
    lines = staged.withColumn(
        "retained",
        F.expr(
            f"filter(sequence(0, greatest((n + {w - 1}) div {w}, 1) - 1),"
            f" i -> least({w}, n - {w} * i) >= {m}"
            f" AND (doc_id + i) % 3 != 0)"
        ),
    ).select(
        "source",
        "has_lorem",
        "has_brace",
        "n",
        F.size("retained").alias("n_retained"),
        F.expr(
            f"aggregate(retained, 0L,"
            f" (acc, i) -> acc + least({w}, n - {w} * i))"
        ).alias("retained_tokens"),
    )
    kept = (
        ~F.col("has_lorem")
        & ~F.col("has_brace")
        & (F.col("n_retained") >= C4_MIN_LINES)
    )
    return (
        lines.withColumn("kept", kept)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("has_lorem").cast("long")).cast("long").alias("n_lorem"),
            F.sum(F.col("has_brace").cast("long")).cast("long").alias("n_brace"),
            F.sum(
                (
                    ~F.col("has_lorem")
                    & ~F.col("has_brace")
                    & (F.col("n_retained") < C4_MIN_LINES)
                ).cast("long")
            ).cast("long").alias("n_fewlines"),
            F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
            F.sum(
                F.when(F.col("kept"), F.col("retained_tokens")).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("kept_tokens"),
            F.round(
                F.avg(
                    F.when(
                        F.col("kept"),
                        F.col("retained_tokens").cast("double")
                        / F.col("n").cast("double"),
                    )
                ),
                6,
            ).alias("kept_ratio"),
        )
        .orderBy("source")
    )


DSIR_TARGET = "src0"  # target domain the importance weights aim at
DSIR_B = 256.0  # bucket count (md5 first byte) as the smoothing constant


def dsir_weights(spark: SparkSession, t) -> DataFrame:
    """DSIR importance weights (Xie et al. NeurIPS'23 "Data Selection
    for Language Models via Importance Resampling"): featurize each
    doc as hashed unigrams+bigrams, fit bag-of-buckets distributions
    p (target domain) and q (raw pool), and weight each doc by
    ``log p(doc)/q(doc) = sum_b count_b * ln(p_b/q_b)`` — the
    log-likelihood ratio importance sampling resamples by. Target =
    source 'src0'; output is the per-source audit (mean log-weight,
    docs scoring target-like > 0) a pipeline reads before resampling —
    src0 itself must rank top, the built-in sanity oracle.

    Hashing: bucket = first 2 hex chars of md5(gram) — 256 buckets,
    identical strings on both engines (the url_features md5 pattern),
    so no engine-specific string hash anywhere. Laplace (+1 / +256)
    smoothing; the per-bucket log-ratio is ONE ln of one ratio of
    integer-derived doubles, shaped token-identically in the oracle.

    Scale shape: the model is 256 numbers — a broadcast — exactly why
    DSIR scales to web corpora in the paper: one pass to count bucket
    frequencies (map-side combinable), one map-side join to score
    docs, one tiny per-source agg. No shuffle keyed on anything wider
    than (doc_id) ever."""
    docs = t["documents"]
    toks = docs.select(
        "doc_id", "source", tokens_col("text").alias("toks")
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.concat(
                F.col("toks"),
                F.expr(
                    "IF(size(toks) >= 2,"
                    " transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ',"
                    " element_at(toks, i + 1))), array())"
                ),
            )
        ).alias("gram"),
    ).select(
        "doc_id", "source", F.substring(F.md5("gram"), 1, 2).alias("b")
    )
    per_doc = grams.groupBy("doc_id", "source", "b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    all_b = per_doc.groupBy("b").agg(F.sum("cnt").alias("a_cnt"))
    tgt_b = (
        per_doc.where(F.col("source") == DSIR_TARGET)
        .groupBy("b")
        .agg(F.sum("cnt").alias("t_cnt"))
    )
    tot = all_b.agg(
        F.sum("a_cnt").cast("double").alias("a_tot"),
    )
    ttot = tgt_b.agg(F.sum("t_cnt").cast("double").alias("t_tot"))
    lr = (
        all_b.join(tgt_b, "b", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "b",
            F.log(
                (
                    (
                        F.coalesce("t_cnt", F.lit(0)).cast("double")
                        + F.lit(1.0)
                    )
                    * (F.col("a_tot") + F.lit(DSIR_B))
                )
                / (
                    (F.col("a_cnt").cast("double") + F.lit(1.0))
                    * (F.col("t_tot") + F.lit(DSIR_B))
                )
            ).alias("lr"),
        )
    )
    weights = (
        per_doc.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("cnt").cast("double") * F.col("lr")).alias("logw"))
    )
    return (
        weights.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("logw"), 6).alias("avg_logw"),
            F.sum((F.col("logw") > 0).cast("long")).cast("long").alias(
                "n_target_like"
            ),
        )
        .orderBy("source")
    )


FIM_AR_MOD = 4  # doc_id % 4 == 0 stays autoregressive (FIM rate 0.75)


def fim_transform(spark: SparkSession, t) -> DataFrame:
    """Fill-in-the-middle split audit (Bavarian et al. 2022 "Efficient
    Training of Language Models to Fill in the Middle"): each doc is
    cut into (prefix, middle, suffix) and re-serialized PSM or SPM;
    the paper's headline knobs are the FIM rate and the split-point
    distribution, and this op emits exactly the audit a pipeline
    checks them with — per (source, mode) doc counts and the
    prefix/middle/suffix token masses.

    Determinism: all selectors run on ``m = doc_id div 20`` (NOT
    doc_id itself: source == doc_id % 20 in this corpus, so mod-based
    selectors would pin one mode per source and degenerate the group
    keys) — ``cut1 = n*(1 + m%8) div 10`` (10%-80% of the doc),
    ``cut2 = cut1 + (n-cut1)*(1 + m%5) div 6``, m % 4 == 0 stays AR
    (rate 0.75), else PSM on even m, SPM on odd. Integer arithmetic
    throughout; the only float is the emitted middle fraction (one
    divide, round 6).

    Scale shape: pure map-only integer expressions per doc plus one
    tiny (source, mode) agg — the transform itself never materializes
    the split strings here (the audit needs only lengths; the actual
    packer reuses pack_sequences), so the pass is scan-speed at any
    corpus size."""
    docs = t["documents"]
    staged = docs.select(
        "source",
        F.expr("doc_id div 20").alias("m"),
        F.size(tokens_col("text")).cast("long").alias("n"),
    ).select(
        "source",
        "n",
        F.when(F.col("m") % FIM_AR_MOD == 0, F.lit("ar"))
        .when(F.col("m") % 2 == 0, F.lit("psm"))
        .otherwise(F.lit("spm"))
        .alias("mode"),
        F.expr("(n * (1 + m % 8)) div 10").alias("cut1"),
        "m",
    ).select(
        "source",
        "mode",
        "n",
        F.when(F.col("mode") == "ar", F.col("n"))
        .otherwise(F.col("cut1"))
        .alias("prefix_len"),
        F.when(F.col("mode") == "ar", F.lit(0).cast("long"))
        .otherwise(F.expr("((n - cut1) * (1 + m % 5)) div 6"))
        .alias("middle_len"),
    ).withColumn(
        "suffix_len", F.col("n") - F.col("prefix_len") - F.col("middle_len")
    )
    return (
        staged.groupBy("source", "mode")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("prefix_len").cast("long").alias("prefix_tokens"),
            F.sum("middle_len").cast("long").alias("middle_tokens"),
            F.sum("suffix_len").cast("long").alias("suffix_tokens"),
            F.round(
                F.avg(
                    F.when(
                        F.col("n") > 0,
                        F.col("middle_len").cast("double")
                        / F.col("n").cast("double"),
                    ).otherwise(F.lit(0.0))
                ),
                6,
            ).alias("avg_middle_frac"),
        )
        .orderBy("source", "mode")
    )


CRAWL_THREADS = 8  # concurrent polite crawlers
CRAWL_RPS = 1  # requests/sec/host politeness budget


def crawl_politeness_plan(spark: SparkSession, t) -> DataFrame:
    """Polite-crawl scheduling plan (the capacity math behind every
    crawler's frontier, cf. Mercator / Heydon & Najork '99): with at
    most 1 request/sec against any single host, a host's queue alone
    lower-bounds the crawl time, and K crawler threads can't beat
    ``max(largest_host_queue, ceil(total/K))`` seconds — the two-term
    makespan lower bound every scheduler quotes (the LPT assignment
    then provably lands within 4/3 of it). Hosts derive from the
    url_features convention (source x tld via doc_id % 3), so the
    queue distribution is the real per-host URL mass of this corpus.

    Exactness: pure integer queue math; one rounded imbalance divide.

    Scale shape: one map-only host derivation + one (host) count agg
    + one single-row reduce — at 10^12 urls the host frame is
    domain-cardinality-bounded (millions, not trillions), the
    canonical crawl-planning shape."""
    docs = t["documents"]
    host = F.concat(
        F.col("source"),
        F.lit("."),
        F.element_at(
            F.array(*[F.lit(x) for x in URL_TLDS]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ),
    )
    per_host = docs.groupBy(host.alias("host")).agg(
        F.count(F.lit(1)).alias("n_urls")
    )
    k = CRAWL_THREADS
    return per_host.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.sum("n_urls").cast("long").alias("total_urls"),
        F.max("n_urls").cast("long").alias("max_host_urls"),
        F.lit(k).cast("long").alias("crawlers"),
        F.greatest(
            F.max("n_urls"),
            F.expr(f"(sum(n_urls) + {k - 1}) div {k}"),
        ).cast("long").alias("lb_makespan_sec"),
        F.round(
            F.max("n_urls").cast("double")
            * F.lit(float(k))
            / F.sum("n_urls").cast("double"),
            6,
        ).alias("imbalance"),
    )


MIX_ALPHA_BUDGET = 200  # docs to allocate across sources
MIX_TEMP = 0.5  # sampling temperature alpha (multilingual standard)


def temperature_mixture(spark: SparkSession, t) -> DataFrame:
    """Temperature-based mixture allocation (the alpha-sampling rule
    from multilingual pretraining — mBERT/XLM-R's p_s proportional to
    n_s^alpha, alpha = 0.5): upweight small domains, downweight huge
    ones, then turn the real-valued shares into an INTEGER doc budget
    with largest-remainder apportionment (floor everyone, hand the
    leftover to the largest fractional remainders) — the standard
    exact apportionment, so the allocations sum to the budget by
    construction. Complements sample_mixture (fixed quotas): this op
    COMPUTES the quotas a temperature recipe implies.

    Float discipline: the weight total is a sorted sequential fold
    over the per-source sqrt weights (webgraph discipline) so both
    engines divide by the bit-identical total; remainder ranking
    compares identically-derived doubles.

    Scale shape: everything after the one (source) count agg runs on
    a domain-cardinality frame (windows included) — tiny at any
    corpus size."""
    docs = t["documents"]
    b = MIX_ALPHA_BUDGET
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = per_src.select(
        "source",
        "n_docs",
        F.sqrt(F.col("n_docs").cast("double")).alias("w"),
    )
    tot = w.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("source", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("tot_w")
    )
    staged = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("share", F.col("w") * F.lit(float(b)) / F.col("tot_w"))
        .withColumn("base", F.floor("share").cast("long"))
        .withColumn("frac", F.col("share") - F.col("base").cast("double"))
    )
    rem = staged.agg(
        (F.lit(b) - F.sum("base")).cast("long").alias("r")
    )
    from pyspark.sql.window import Window

    win = Window.orderBy(F.desc("frac"), F.asc("source"))
    return (
        staged.crossJoin(F.broadcast(rem))
        .withColumn("rk", F.row_number().over(win))
        .select(
            "source",
            "n_docs",
            F.round("w", 6).alias("weight"),
            (
                F.col("base")
                + (F.col("rk") <= F.col("r")).cast("long")
            ).cast("long").alias("alloc"),
            F.round(F.col("share") / F.lit(float(b)), 6).alias("share"),
        )
        .orderBy("source")
    )


RECRAWL_MAX_DAYS = 30


def recrawl_schedule(spark: SparkSession, t) -> DataFrame:
    """Freshness-driven recrawl scheduling (Cho & Garcia-Molina
    VLDB'00 "Synchronizing a database to improve freshness"): sources
    that change often get short revisit intervals — the frontier
    policy is interval ~ 1/(observed change rate), clamped to
    [1, 30] days. The per-page changed-since-last-crawl flag is
    PLANTED deterministically with a SOURCE-DEPENDENT rate
    (``(doc_id div 20) % (3 + doc_id % 20 % 4) == 0`` — div-based so
    it varies within a source, modulus 3..6 so rates differ ACROSS
    sources; doc_id % 20 == the source index in this corpus), the
    crawl_snapshot_diff convention. Output per source: page count,
    changed count, observed rate, and the clamped revisit interval.

    Exactness: integer counts; one rate divide; floor + clamp in
    integers.

    Scale shape: map-only flag + one source agg — one scan, one
    narrow shuffle at any frontier size."""
    docs = t["documents"]
    changed = (
        F.expr("(doc_id div 20) % (3 + doc_id % 20 % 4) = 0")
    ).cast("long")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(changed).cast("long").alias("n_changed"),
    )
    rate = F.col("n_changed").cast("double") / F.col("n_pages").cast(
        "double"
    )
    return (
        agg.withColumn("change_rate", F.round(rate, 6))
        .withColumn(
            "recrawl_days",
            F.greatest(
                F.lit(1).cast("long"),
                F.least(
                    F.lit(RECRAWL_MAX_DAYS).cast("long"),
                    F.floor(F.lit(1.0) / rate).cast("long"),
                ),
            ),
        )
        .orderBy("source")
    )

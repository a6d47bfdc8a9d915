"""Text-analysis operators for a training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

All JVM-side expressions (no Python workers); each has an exact DuckDB
oracle twin in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from unichem2index_spark.functions.hashing import FP_MULT, MOD
from unichem2index_spark.functions.tokenize import tokens_col
from unichem2index_spark.operators.dedup import vocab_ids
from unichem2index_spark.operators.query import (
    _markers_frame,
    _query_terms_frame,
)

# Marker-word sets for the n-gram/stopword language heuristic. The corpus
# vocabulary is English-ish, so real-language discrimination is synthetic —
# what matters is that the heuristic is deterministic and engine-identical.
EN_MARKERS = ["the", "a", "of", "and", "is"]
DE_MARKERS = ["der", "die", "das", "und", "ist"]
STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]


def _tok(d: DataFrame) -> DataFrame:
    return d.select("doc_id", tokens_col("text").alias("tokens"), "text")


class _Bm25Frame(NamedTuple):
    """The textstats BM25 frame and the pieces it is joined from."""

    scored: DataFrame  # doc_id, term, tf, df, doclen, n_docs, avgdl
    tokf: DataFrame  # doc_id, term: one row per token
    dl: DataFrame  # doc_id, doclen: docs with at least one token
    stats: DataFrame  # n_docs, avgdl: one row
    qtok: DataFrame  # the tokf rows of the query terms
    dfs: DataFrame  # term, df: the query terms' document frequencies


def _bm25_frame(d: DataFrame, terms) -> _Bm25Frame:
    """BM25 inputs of every (doc, query term) match in ``d``'s text, in
    the textstats convention: n_docs and avgdl count only docs with at
    least one token (``dl`` is grouped from the token rows), as the
    oracle SQL's ``dl AS (SELECT doc_id, count(*) FROM tokf GROUP BY 1)``
    does. The query path (``query.bm25_contribs_from_corpus``) counts
    every doc instead; the two differ by the token-less docs, so they
    stay two helpers. Score with :func:`_bm25_weight`."""
    tokf = d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    dl = tokf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("doclen").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    qtok = tokf.where(F.col("term").isin(list(terms)))
    dfs = (
        qtok.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        qtok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(dfs), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    return _Bm25Frame(scored, tokf, dl, stats, qtok, dfs)


def _bm25_weight(b: float = 0.75) -> Column:
    """idf x tf-norm (k1 = 1.2) over the columns of
    :func:`_bm25_frame`'s ``scored`` frame: one term's BM25 contribution
    to one doc. ``b`` is the length-normalization weight."""
    idf = F.log(
        F.lit(1.0)
        + (
            F.col("n_docs").cast("double")
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfn = F.col("tf").cast("double") / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (
            F.lit(1.0 - b)
            + F.lit(b)
            * F.col("doclen").cast("double")
            / F.col("avgdl")
        )
    )
    return idf * tfn


def _varbyte_gaps() -> tuple[Column, Column]:
    """``(gaps, vbytes)`` over a sorted ``ids`` array column: the d-gaps
    (first id + 1, then successive differences) and, over a column
    aliased ``gaps``, their summed varbyte length (7 payload bits per
    byte). A function, not module constants: ``F.expr`` needs an active
    session."""
    gaps = F.expr(
        """transform(ids, (x, i) ->
             IF(i = 0, x + 1, x - element_at(ids, i)))"""
    )
    vbytes = F.expr(
        """aggregate(gaps, 0L, (acc, g) -> acc +
             CASE WHEN g < 128 THEN 1
                  WHEN g < 16384 THEN 2
                  WHEN g < 2097152 THEN 3
                  WHEN g < 268435456 THEN 4
                  ELSE 5 END)"""
    )
    return gaps, vbytes


def lang_id(spark: SparkSession, t) -> DataFrame:
    """Marker-word-ratio language ID: en vs de vs unknown."""
    d = _tok(t["documents"])
    en = F.size(F.filter("tokens", lambda x: x.isin(EN_MARKERS)))
    de = F.size(F.filter("tokens", lambda x: x.isin(DE_MARKERS)))
    n = F.size("tokens")
    return d.select(
        "doc_id",
        F.round(en / F.greatest(n, F.lit(1)), 6).alias("en_ratio"),
        F.when(en > de, "en").when(de > en, "de").otherwise("und").alias(
            "pred_lang"
        ),
    ).orderBy("doc_id")


def quality_score(spark: SparkSession, t) -> DataFrame:
    """Heuristic quality score: token count, mean token length, stopword
    ratio, alpha-char ratio → linear score (deterministic double math)."""
    d = _tok(t["documents"])
    n = F.size("tokens")
    tok_chars = F.aggregate(
        F.transform("tokens", lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    stop = F.size(F.filter("tokens", lambda x: x.isin(STOPWORDS)))
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    out = d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(tok_chars / F.greatest(n.cast("double"), F.lit(1.0)), 6).alias(
            "mean_tok_len"
        ),
        F.round(
            stop.cast("double") / F.greatest(n.cast("double"), F.lit(1.0)), 6
        ).alias("stop_ratio"),
        F.round(
            alpha.cast("double")
            / F.greatest(F.length("text").cast("double"), F.lit(1.0)),
            6,
        ).alias("alpha_ratio"),
    )
    # Constant-only contributions: a float multiply of a rounded ratio can
    # land exactly on a round-half boundary where engines disagree; summing
    # exact literals is bit-identical everywhere.
    score = (
        F.when(F.col("n_tokens").between(20, 400), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(F.col("stop_ratio").between(0.05, 0.6), F.lit(0.3)).otherwise(
            F.lit(0.0)
        )
        + F.when(F.col("mean_tok_len").between(3.0, 8.0), F.lit(0.3)).otherwise(
            F.lit(0.0)
        )
    )
    return out.withColumn("quality", F.round(score, 6)).orderBy("doc_id")


def token_counts(spark: SparkSession, t) -> DataFrame:
    """Token counting two ways: whitespace split vs regex tokenizer."""
    d = t["documents"]
    ws = F.size(F.split(F.trim("text"), r"\s+"))
    rx = F.size(tokens_col("text"))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        rx.alias("regex_tokens"),
        F.length("text").alias("n_chars_actual"),
    ).orderBy("doc_id")


def doclen_percentiles(spark: SparkSession, t) -> DataFrame:
    """ES `percentiles` aggregation analog over document length (the
    corpus-shape summary every index operator looks at first).

    Exact interpolated percentiles via Spark's `percentile` — the same
    linear (n-1)*q interpolation DuckDB's quantile_cont uses, so the
    oracle is value-hash identical. At 100 TB swap in
    `approx_percentile` (t-digest, single-pass, mergeable — what ES
    itself computes); the exact form here doubles as its oracle."""
    dl = t["documents"].select(
        F.size(tokens_col("text")).cast("long").alias("doclen")
    )
    return dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(doclen, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(doclen, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(doclen, 0.99)"), 6).alias("p99"),
        F.min("doclen").alias("min_doclen"),
        F.max("doclen").alias("max_doclen"),
    )


def percentile_ranks(
    spark: SparkSession, t, values: tuple[float, ...] = (100.0, 300.0, 600.0)
) -> DataFrame:
    """ES ``percentile_ranks`` aggregation analog over document length —
    the inverse of ``percentiles``: for each probe value, the percent of
    docs at or below it ("what fraction of my corpus fits in a
    600-token context?"). ES computes this on a t-digest with
    interpolation; the exact definition here (count <= v) / n * 100 is
    its oracle and is what the t-digest converges to.

    One conditional aggregation pass — each rank is a ``sum(when(...))``
    over the same scan, so k probe values cost ONE job, map-side
    combined. Exact integer counts, one float divide per rank."""
    dl = _tok(t["documents"]).select(
        F.size("tokens").cast("long").alias("doclen")
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")] + [
        F.round(
            F.sum(
                F.when(F.col("doclen") <= F.lit(float(v)), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
            * 100.0,
            6,
        ).alias(f"rank_{int(v)}")
        for v in values
    ]
    return dl.agg(*aggs)


def significant_terms(
    spark: SparkSession, t, where: str = "lang = 'de'", size: int = 25,
    min_fg_df: int = 3,
) -> DataFrame:
    """ES `significant_terms` aggregation analog: terms overrepresented in
    a foreground subset (docs matching ``where``) vs the whole corpus,
    scored with ES's default JLH heuristic
    ``(fgPct - bgPct) * fgPct / bgPct`` over document frequencies.

    Scale shape (single-pass, r3 verdict item 4): the foreground flag is
    computed per DOC before the explode, so ONE distinct-(doc, term)
    scan feeds ONE conditional hash agg — fg_df and bg_df come out of
    the same groupBy (no second explode, no term join). The n_fg/n_bg
    corpus counts fold into one extra skinny agg over the docs table.
    ``min_fg_df`` is ES's min_doc_count guard against one-doc flukes."""
    d = t["documents"]
    fg_flag = F.coalesce(F.expr(where).cast("boolean"), F.lit(False))
    totals = d.agg(
        F.count(F.lit(1)).alias("n_bg"),
        F.count(F.when(fg_flag, 1)).alias("n_fg"),
    ).collect()[0]
    n_bg, n_fg = int(totals.n_bg), int(totals.n_fg)
    if n_fg == 0:
        return spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, score double"
        )
    tokset = d.select(
        "doc_id",
        fg_flag.alias("_fg"),
        F.explode(tokens_col("text")).alias("term"),
    ).distinct()
    stats = (
        tokset.groupBy("term")
        .agg(
            F.count(F.when(F.col("_fg"), 1)).alias("fg_df"),
            F.count(F.lit(1)).alias("bg_df"),
        )
        .where(F.col("fg_df") >= min_fg_df)
    )
    fg_pct = F.col("fg_df").cast("double") / F.lit(float(n_fg))
    bg_pct = F.col("bg_df").cast("double") / F.lit(float(n_bg))
    return (
        stats.select(
            "term",
            "fg_df",
            "bg_df",
            F.round((fg_pct - bg_pct) * fg_pct / bg_pct, 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(size)
    )


def term_suggest(
    spark: SparkSession, t, query_term: str = "merg", max_dist: int = 2,
    size: int = 10,
) -> DataFrame:
    """ES term-suggester analog: vocabulary terms within ``max_dist``
    Levenshtein edits of the query, ranked (dist asc, df desc, term asc).

    Scale shape: the vocabulary+df agg is the only shuffle; the edit
    distance runs map-side against ONE literal (JVM levenshtein) behind a
    length-window pre-filter, so no all-pairs anything. Batch suggesting
    many misspellings would block on (length, first char) and broadcast
    the query list — same plan family."""
    d = t["documents"]
    vocab = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    qlen = len(query_term)
    return (
        vocab.where(
            (F.length("term") >= qlen - max_dist)
            & (F.length("term") <= qlen + max_dist)
        )
        .select(
            "term",
            "df",
            F.levenshtein(F.col("term"), F.lit(query_term)).alias("dist"),
        )
        .where((F.col("dist") >= 1) & (F.col("dist") <= max_dist))
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(size)
    )


def phrase_suggest(
    spark: SparkSession,
    t,
    phrase: tuple[str, str] = ("mrge", "grup"),
    max_dist: int = 1,
    size: int = 5,
) -> DataFrame:
    """ES phrase-suggester analog ("did you mean") for a two-term query:
    per-slot candidates come from the vocabulary within ``max_dist``
    Levenshtein edits (distance 0 included — a slot may already be
    correct), and candidate PAIRS are ranked by how often they actually
    occur as an adjacent bigram in the corpus (count desc, fewer edits
    first, then lexicographic). ES reranks with a Stupid-Backoff bigram
    LM; raw bigram frequency is the λ-free integer core of that model,
    so scores stay engine-exact (no smoothing floats to reconcile).

    Scale shape: the bigram table is ONE map-side transform over the
    tokenized corpus (adjacent zip, no self-join) + a hash agg keyed on
    the pair; per-slot candidate sets are dictionary scans behind a
    length-window pre-filter (same plan as term_suggest) and are tiny,
    so both join to the bigram table broadcast."""
    d = t["documents"]
    tok = d.select(tokens_col("text").alias("tokens"))
    bigrams = (
        tok.select(
            F.explode(
                F.expr(
                    "transform(slice(tokens, 1, size(tokens) - 1),"
                    " (x, i) -> struct(x AS w1, tokens[i + 1] AS w2))"
                )
            ).alias("bg")
        )
        .groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    vocab = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    def cands(q: str, alias: str):
        qlen = len(q)
        return (
            vocab.where(
                (F.length("term") >= qlen - max_dist)
                & (F.length("term") <= qlen + max_dist)
            )
            .select(
                F.col("term").alias(alias),
                F.levenshtein(F.col("term"), F.lit(q)).alias(f"{alias}_d"),
            )
            .where(F.col(f"{alias}_d") <= max_dist)
        )

    c0, c1 = cands(phrase[0], "w1"), cands(phrase[1], "w2")
    return (
        bigrams.join(F.broadcast(c0), "w1")
        .join(F.broadcast(c1), "w2")
        .select(
            "w1",
            "w2",
            "n_occurrences",
            (F.col("w1_d") + F.col("w2_d")).alias("total_edits"),
        )
        .orderBy(
            F.desc("n_occurrences"),
            F.asc("total_edits"),
            F.asc("w1"),
            F.asc("w2"),
        )
        .limit(size)
    )


def sampler_terms(
    spark: SparkSession, t, terms: list[str], shard_size: int = 50,
    field: str = "source",
) -> DataFrame:
    """ES ``sampler`` aggregation: run the sub-aggregation (a terms agg
    on ``field``) over only the top-``shard_size`` BEST-SCORING docs of
    the query — the "what do my best hits look like" analysis that
    bounds agg cost on huge match sets. Sample membership is decided on
    RAW scores with the doc_id tie-break (same ordering discipline as
    every top-k), so both engines pick the identical sample.

    Scale shape: the sample IS a top-k (n_shards*k candidate rows to
    one merge at a real index; corpus path here), and the sub-agg runs
    on shard_size rows — constant work no matter how many docs match."""
    from unichem2index_spark.operators.query import bm25_scores_from_corpus

    d = t["documents"]
    sample = (
        bm25_scores_from_corpus(d, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(shard_size)
    )
    return (
        sample.join(d.select("doc_id", field), "doc_id")
        .groupBy(field)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc(field))
    )


def stats_bucket(
    spark: SparkSession, t, interval: str = "hour"
) -> DataFrame:
    """ES ``stats_bucket`` pipeline aggregation: summary statistics
    ACROSS the buckets of a sibling date_histogram — per event_type, the
    count/min/max/sum/avg of its hourly event counts (the "how bursty is
    this series" dashboard row).

    Two stacked hash aggs, both map-side combined: events → (type,
    bucket) counts (cardinality = types × hours), then (type) stats over
    those counts. Exact integer stats + ONE divide for the avg."""
    e = t["events"]
    hist = e.groupBy(
        F.col("event_type"),
        F.date_trunc(interval, F.col("ts")).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        hist.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.min("n_events").alias("min_bucket"),
            F.max("n_events").alias("max_bucket"),
            F.sum("n_events").alias("sum_events"),
            F.round(
                F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_per_bucket"),
        )
        .orderBy("event_type")
    )


def date_histogram_pipeline(
    spark: SparkSession, t, interval: str = "hour"
) -> DataFrame:
    """ES ``date_histogram`` + pipeline-aggregation analog over the events
    stream: per (event_type, time-bucket) counts/sums with `derivative`,
    `cumulative_sum`, and a `moving_fn` average — the ES dashboard quartet
    (ref analog: the loader's date-bucketed progress counters,
    extractor/loader.go:239-283, generalised to ES pipeline semantics).

    Buckets follow min_doc_count=1 semantics (observed buckets only, no
    empty-bucket fill); `derivative` is null on each series' first bucket,
    exactly as ES emits no value there.

    Scale shape: ONE hash agg (map-side partial) onto (event_type, bucket)
    — cardinality = types x time-buckets, tiny vs the event count — then
    window functions PARTITIONED BY event_type, so the pipeline pass is
    parallel per series and never a global sort. Numeric determinism: the
    windowed derivative/cum/moving columns operate on integer counts or
    already-rounded sums, so tree-vs-serial window accumulation can't
    produce engine-divergent floats (integer sums are exact; avg divides
    an exact sum by an exact count)."""
    e = t["events"]
    hist = e.groupBy(
        F.col("event_type"),
        F.date_trunc(interval, F.col("ts")).alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    wmov = w.rowsBetween(-2, 0)
    return hist.select(
        "event_type",
        "bucket",
        "n_events",
        "value_sum",
        (F.col("n_events") - F.lag("n_events").over(w)).alias("deriv_n"),
        F.round(F.col("value_sum") - F.lag("value_sum").over(w), 2).alias(
            "deriv_value"
        ),
        F.sum("n_events").over(wcum).alias("cum_n"),
        F.round(F.avg("n_events").over(wmov), 6).alias("moving_avg_n"),
    ).orderBy("event_type", "bucket")


# ES `range` aggregation bucket bounds over documents.n_chars (half-open
# [lo, hi) like ES; the oracle SQL is generated from this same list).
# Edges chosen so all three buckets populate across the sf0.001-0.1 corpus
# shape (n_chars ~47-577, terciles ~220/375).
RANGE_BOUNDS = [(0, 250), (250, 400), (400, None)]


def range_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``range`` aggregation analog: bucket documents by n_chars into
    half-open ranges with per-bucket count / avg / min / max stats
    (ES sub-agg `stats` under each range bucket).

    Scale shape: the bucket key is a map-side CASE over a scalar column —
    a 3-row hash agg, no shuffle beyond the final partial-merge. Integer
    sums keep avg engine-exact."""
    d = t["documents"]
    nc = F.coalesce(F.col("n_chars"), F.lit(0))
    key, lo_col = None, None
    for lo, hi in RANGE_BOUNDS:
        label = f"{lo}-{hi if hi is not None else '*'}"
        cond = nc < hi if hi is not None else None
        if cond is not None:
            key = F.when(cond, label) if key is None else key.when(cond, label)
            lo_col = (
                F.when(cond, lo) if lo_col is None else lo_col.when(cond, lo)
            )
        else:
            key = key.otherwise(label)
            lo_col = lo_col.otherwise(lo)
    return (
        d.select(
            key.alias("range_key"),
            lo_col.cast("long").alias("range_from"),
            nc.alias("nc"),
        )
        .groupBy("range_key", "range_from")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.round(F.avg("nc"), 6).alias("avg_chars"),
            F.min("nc").alias("min_chars"),
            F.max("nc").alias("max_chars"),
        )
        .orderBy("range_from")
    )


def cardinality_agg(spark: SparkSession, t, rsd: float = 0.05) -> DataFrame:
    """ES ``cardinality`` aggregation analog: HyperLogLog++ approximate
    distinct user count per event_type (`approx_count_distinct` — the same
    mergeable-sketch algorithm ES runs, ref analog loader.go:239-261's
    distinct-source accounting).

    Rows-only in the correctness gate BY DESIGN: two HLL implementations
    legitimately disagree on the estimate, so the oracle is the pytest
    tolerance check (tests/test_analytics.py) asserting relative error
    <= 3*rsd against the exact distinct count at test scale. At 100 TB the
    sketch is the point: one pass, fixed memory per group, mergeable
    across partitions — the exact countDistinct twin needs a full shuffle
    of every (type, user) pair."""
    e = t["events"]
    return (
        e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd).alias("approx_users"))
        .orderBy("event_type")
    )


def doc_fingerprint(spark: SparkSession, t) -> DataFrame:
    """Position-weighted rolling fingerprint over dense token ids —
    order-sensitive, engine-identical integer math (functions.hashing)."""
    d = _tok(t["documents"])
    ids = vocab_ids(d.select("doc_id", "tokens"))
    pos = d.select("doc_id", F.posexplode("tokens").alias("pos", "term"))
    # No broadcast hint: AQE broadcasts small vocabularies, shuffle-joins
    # web-scale ones.
    weighted = pos.join(ids, "term").select(
        "doc_id", ((F.col("pos") + 1) * (F.col("token_id") + 1)).alias("w")
    )
    return (
        weighted.groupBy("doc_id")
        .agg(((F.sum("w") * F.lit(FP_MULT)) % F.lit(MOD)).alias("fingerprint"))
        .orderBy("doc_id")
    )


def extended_stats_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``extended_stats`` aggregation analog: per-language count / min /
    max / sum / avg / population variance / std over token counts.

    Variance is spelled as the explicit ``E[x^2] - E[x]^2`` expression tree
    from EXACT integer sums (sum, sum of squares) rather than ``var_pop``,
    so Spark and the DuckDB oracle evaluate bit-identical float math — the
    same cross-engine determinism rule the BM25 family follows. That is
    also the mergeable one-pass form ES itself accumulates (its
    extended_stats carries sum + sum_of_squares per shard), so the shape
    is a single map-side-combined groupBy at any scale. ``greatest(.,0)``
    guards the sqrt against the -1e-16 residue a constant group can leave.
    """
    d = t["documents"]
    base = d.select(
        "lang", F.size(tokens_col("text")).cast("long").alias("doclen")
    )
    g = base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doclen").alias("min_dl"),
        F.max("doclen").alias("max_dl"),
        F.sum("doclen").alias("sum_dl"),
        F.sum(F.col("doclen") * F.col("doclen")).alias("sum_sq"),
    )
    avg = F.col("sum_dl").cast("double") / F.col("n").cast("double")
    var = F.greatest(
        F.col("sum_sq").cast("double") / F.col("n").cast("double")
        - avg * avg,
        F.lit(0.0),
    )
    return g.select(
        "lang",
        "n",
        "min_dl",
        "max_dl",
        "sum_dl",
        F.round(avg, 6).alias("avg_dl"),
        F.round(var, 6).alias("var_dl"),
        F.round(F.sqrt(var), 6).alias("std_dl"),
    ).orderBy("lang")


HISTOGRAM_INTERVAL = 50  # shared with the generated oracle SQL


def histogram_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``histogram`` aggregation analog: fixed-width buckets over
    doclen; bucket key = ``doclen - doclen % interval`` (pure integer
    math — identical in every engine, no float floor edge cases). Empty
    buckets omitted (the ES ``min_doc_count: 1`` shape). One
    map-side-combined groupBy; bucket count is bounded by the value range
    so the agg state is tiny at any corpus size."""
    d = t["documents"]
    iv = HISTOGRAM_INTERVAL
    return (
        d.select(F.size(tokens_col("text")).cast("long").alias("doclen"))
        .select((F.col("doclen") - F.col("doclen") % iv).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("bucket")
    )


def filters_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``filters`` aggregation analog: N named predicates counted in
    ONE corpus pass via conditional aggregation (never one scan per
    filter — the difference between 1 and N jobs at 100 TB). Bucket set
    mirrors the kind of slice an ES user keeps on a webtext index:
    language, length band, and their intersection."""
    d = t["documents"]
    return d.agg(
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_en"),
        F.count(F.when(F.col("n_chars") >= 800, 1)).alias("n_long"),
        F.count(
            F.when((F.col("lang") == "en") & (F.col("n_chars") >= 800), 1)
        ).alias("n_long_en"),
        F.count(F.lit(1)).alias("n_total"),
    )


TOP_HITS_TERMS = ["merge", "vector", "the"]  # shared with the oracle SQL
TOP_HITS_PER_GROUP = 2


def top_hits_by_lang(spark: SparkSession, t) -> DataFrame:
    """ES ``terms`` agg + ``top_hits`` sub-agg sorted by ``_score``: per
    language, the top-N docs by BM25 relevance for a fixed query — the
    "best match per slice" shape (ES runs the scorer once and fans hits
    into buckets; so does this plan).

    Scale shape: the corpus BM25 scorer touches only the query terms'
    postings; the per-group top-N is one window over the scored set
    partitioned by the bucket key (no global sort, no per-group jobs).
    """
    from unichem2index_spark.operators.query import bm25_scores_from_corpus

    d = t["documents"]
    scores = bm25_scores_from_corpus(d, TOP_HITS_TERMS)
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.join(d.select("doc_id", "lang"), "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_HITS_PER_GROUP)
        .select("lang", "rank", "doc_id", F.round("score", 6).alias("score"))
        .orderBy("lang", "rank")
    )


def matrix_stats_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``matrix_stats`` aggregation analog over (n_chars, doclen):
    count, means, population variances, covariance, and Pearson
    correlation — the two-field stats matrix an ES user runs to check
    whether a cheap stored field (n_chars) can proxy for token count.

    Same exact-integer-sums discipline as :func:`extended_stats_agg`:
    ONE map-side-combined pass accumulates {n, Σx, Σy, Σx², Σy², Σxy}
    (the mergeable moment vector ES itself ships between shards), then
    every statistic is derived with the identical float expression tree
    the DuckDB oracle spells — bit-identical across engines. int64
    headroom: Σxy at 10^12 docs × ~10^6 per-row product approaches 2^63;
    at that scale promote the sums to decimal(38) — shape unchanged."""
    d = t["documents"]
    base = d.select(
        F.col("n_chars").cast("long").alias("x"),
        F.size(tokens_col("text")).cast("long").alias("y"),
    )
    g = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    vx = F.greatest(F.col("sxx").cast("double") / n - mx * mx, F.lit(0.0))
    vy = F.greatest(F.col("syy").cast("double") / n - my * my, F.lit(0.0))
    cov = F.col("sxy").cast("double") / n - mx * my
    return g.select(
        "n",
        F.round(mx, 6).alias("mean_chars"),
        F.round(my, 6).alias("mean_tokens"),
        F.round(vx, 6).alias("var_chars"),
        F.round(vy, 6).alias("var_tokens"),
        F.round(cov, 6).alias("covariance"),
        F.round(cov / F.sqrt(vx * vy), 6).alias("correlation"),
    )


# Named filter predicates for the adjacency matrix — shared with the
# generated oracle SQL (ES adjacency_matrix: every filter and every
# pairwise intersection, counted in ONE pass).
ADJACENCY_LONG_CHARS = 400


def adjacency_matrix_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation analog: three named filters
    (en = lang 'en', long = n_chars >= 400, en0 = source 'src0'-ish
    slice) plus every pairwise intersection, all via conditional
    aggregation in a single corpus pass — N²/2 buckets never cost N²/2
    scans (the same 1-job-not-N-jobs rule as ``filters_agg``)."""
    d = t["documents"]
    a = F.col("lang") == "en"
    b = F.col("n_chars") >= ADJACENCY_LONG_CHARS
    c = F.col("source").isin("src0", "src1", "src2")
    cnt = lambda p, name: F.count(F.when(p, 1)).alias(name)  # noqa: E731
    return d.agg(
        cnt(a, "en"),
        cnt(b, "long_docs"),
        cnt(c, "early_src"),
        cnt(a & b, "en_long"),
        cnt(a & c, "en_early_src"),
        cnt(b & c, "long_early_src"),
    )


RARE_MAX_DOC_COUNT = 5  # ES rare_terms max_doc_count (absolute, like ES)
RARE_OUT_CAP = 50


def rare_terms_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``rare_terms`` aggregation analog over 3-token shingles: the
    long-tail buckets a terms-agg ordered by count ASC cannot serve at
    scale (ES refuses that ordering; rare_terms exists precisely for it).
    Shingles rather than unigrams because the synthetic vocabulary is 31
    terms — only n-grams have a genuine document-frequency tail.

    One distinct-explode + groupBy pass; df <= max_doc_count keeps the
    agg output bounded by the tail size, and the emit cap (df asc,
    shingle asc — deterministic) bounds the result like ES's
    ``size``. ES uses a CuckooFilter to bound memory instead of an exact
    group-by; at 10^12 docs the exact shuffle is what a cluster is FOR
    (this is the same shape as the minhash shingle df-cap pass)."""
    d = t["documents"]
    toks = d.select("doc_id", tokens_col("text").alias("toks"))
    sh = toks.select(
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
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .where(F.col("doc_count") <= RARE_MAX_DOC_COUNT)
        .orderBy(F.asc("doc_count"), F.asc("shingle"))
        .limit(RARE_OUT_CAP)
    )


COMPOSITE_PAGE_SIZE = 8
COMPOSITE_AFTER = ("en", "src12")  # exclusive cursor, (lang, source) asc


def composite_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``composite`` aggregation analog: (lang, source) buckets in
    tuple-ascending order, resuming strictly AFTER a cursor, one page of
    ``size`` buckets — ES's only paginable aggregation, built for
    draining a high-cardinality bucket space across requests.

    One groupBy pass; the cursor predicate is a tuple comparison pushed
    below the agg (partition-prunable when the source is partitioned by
    the leading key), so deep pages never recount earlier buckets'
    rows... they are filtered at the scan, which is exactly why ES
    recommends composite over terms-agg pagination."""
    d = t["documents"]
    al, asrc = COMPOSITE_AFTER
    after = (F.col("lang") > al) | (
        (F.col("lang") == al) & (F.col("source") > asrc)
    )
    return (
        d.where(after)
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.asc("lang"), F.asc("source"))
        .limit(COMPOSITE_PAGE_SIZE)
    )


MIN_BUCKET_DOCS = 70  # bucket_selector threshold, shared with the oracle


def bucket_script_selector(spark: SparkSession, t) -> DataFrame:
    """ES ``bucket_script`` + ``bucket_selector`` pipeline analog: per
    language, a scripted per-bucket metric (avg tokens per doc =
    sum/count, computed from the bucket's own aggregates exactly as a
    bucket_script references its sibling aggs) and a selector that keeps
    only buckets with doc_count >= MIN_BUCKET_DOCS (the HAVING shape ES
    evaluates coordinator-side over the reduced buckets).

    One map-side-combined groupBy; script + selector run on the
    already-reduced bucket rows — per-bucket cost, never per-doc."""
    d = t["documents"]
    g = (
        d.select(
            "lang", F.size(tokens_col("text")).cast("long").alias("doclen")
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("doclen").alias("total_tokens"),
        )
    )
    return (
        g.where(F.col("doc_count") >= MIN_BUCKET_DOCS)
        .select(
            "lang",
            "doc_count",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double")
                / F.col("doc_count").cast("double"),
                6,
            ).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def weighted_avg_agg(spark: SparkSession, t) -> DataFrame:
    """ES `weighted_avg` aggregation analog: per l_returnflag, the
    quantity-weighted average unit price. Float-exactness: the weighted
    numerator is summed as exact integer cents (one shared per-row double
    expression, then integer SUM — order-independent), the weight sum as
    exact integers; the single division happens once at emit.
    Map-side partial agg; the shuffle carries 3 longs per flag."""
    li = t["lineitem"]
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("value_count"),
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_quantity") * 100, 0)
                .cast("long")
            ).alias("num_cents"),
            F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("wsum"),
        )
        .select(
            "flag",
            "value_count",
            F.round(
                (F.col("num_cents") / 100.0) / F.col("wsum").cast("double"), 6
            ).alias("weighted_avg"),
        )
        .orderBy("flag")
    )


def mad_agg(spark: SparkSession, t) -> DataFrame:
    """ES `median_absolute_deviation` aggregation: per event_type, the
    median of |value - median(value)|. Exact two-pass plan (ES uses a
    TDigest approximation; exact is the stronger contract): pass 1
    computes each group's interpolated median, broadcast back; pass 2
    computes the median of absolute deviations. Both passes are
    percentile aggregations that shuffle only (type, value) pairs."""
    ev = t["events"].select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    out = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad")
    )
    med_r = med.select(
        "event_type", F.round(F.col("med"), 6).alias("median")
    )
    return med_r.join(out, "event_type").orderBy("event_type")


def completion_suggest(
    spark: SparkSession, t, prefix: str = "s", k: int = 10
) -> DataFrame:
    """ES completion suggester analog: prefix-match over the term
    dictionary, ranked by collection weight (total occurrences — the
    'popularity' weight an ES completion field carries), term asc
    tie-break. In ES this is an in-memory FST per shard; here the term
    dictionary aggregation is the FST analog — tiny after the first
    groupBy, so the top-k is a single reduce."""
    docs = t["documents"]
    return (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("suggestion"))
        .where(F.col("suggestion").startswith(prefix))
        .groupBy("suggestion")
        .agg(F.count(F.lit(1)).alias("weight"))
        .orderBy(F.desc("weight"), F.asc("suggestion"))
        .limit(k)
    )


AUTO_HIST_LADDER = [
    ("minute", 60.0),
    ("hour", 3600.0),
    ("day", 86400.0),
    ("week", 604800.0),
    ("month", 2592000.0),
    ("year", 31536000.0),
]


def auto_date_histogram(
    spark: SparkSession, t, target_buckets: int = 20
) -> DataFrame:
    """ES `auto_date_histogram`: the engine PICKS the calendar interval —
    smallest rung of the ladder whose estimated bucket count
    (span/interval + 1) fits the target. Two jobs: one min/max agg (the
    span estimate ES keeps per shard), then the normal date_trunc
    histogram at the chosen rung. The DuckDB oracle re-derives the rung
    from the SAME span formula in SQL, so the hash check covers the
    interval CHOICE, not just the final histogram."""
    ev = t["events"]
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (mx - mn).total_seconds()
    unit = AUTO_HIST_LADDER[-1][0]
    for u, sec in AUTO_HIST_LADDER:
        if span / sec + 1.0 <= float(target_buckets):
            unit = u
            break
    return (
        ev.groupBy(F.date_trunc(unit, F.col("ts")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.lit(unit).alias("interval"), "bucket", "n_events")
        .orderBy("bucket")
    )


def terms_agg_sharded(
    spark: SparkSession,
    t,
    size: int = 5,
    shard_size: int = 8,
    n_shards: int = 4,
) -> DataFrame:
    """ES `terms` aggregation with the REAL distributed semantics
    (`show_term_doc_count_error`): each shard reports only its local
    top-``shard_size`` terms by doc count; the coordinator merges and,
    per returned term, reports `doc_count_error_upper_bound` = the sum
    over NON-reporting shards of that shard's smallest reported count
    (the most a missed shard could have contributed; 0 for exhausted
    shards that reported everything). This is the approximation a
    single-pass exact groupBy silently hides — materializing the bound
    is how ES makes the trade auditable.

    Sharding = doc_id % n_shards (the index's doc-sharding function).
    Per-shard ranking + the merge are two hash aggs and one tiny join;
    the per-shard frames never leave their ~shard_size rows."""
    d = t["documents"]
    tokset = (
        d.select(
            (F.col("doc_id") % n_shards).cast("int").alias("shard"),
            "doc_id",
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    per_shard = tokset.groupBy("shard", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("term"))
    ranked = per_shard.withColumn("r", F.row_number().over(w))
    reported = ranked.where(F.col("r") <= shard_size)
    shard_stats = ranked.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.min(F.when(F.col("r") <= shard_size, F.col("cnt"))).alias("m"),
    ).select(
        "shard",
        # Exhausted shard (reported everything) contributes 0 error.
        F.when(F.col("n_terms") <= shard_size, F.lit(0))
        .otherwise(F.col("m"))
        .alias("err"),
    )
    total_err = shard_stats.agg(F.sum("err")).first()[0] or 0
    merged = (
        reported.join(shard_stats, "shard")
        .groupBy("term")
        .agg(
            F.sum("cnt").alias("doc_count"),
            F.sum("err").alias("reported_err"),
        )
        .select(
            "term",
            "doc_count",
            (F.lit(int(total_err)) - F.col("reported_err")).alias(
                "doc_count_error_upper_bound"
            ),
        )
    )
    return (
        merged.orderBy(F.desc("doc_count"), F.asc("term"))
        .limit(size)
    )


def multi_terms_agg(spark: SparkSession, t, size: int = 10) -> DataFrame:
    """ES `multi_terms` aggregation: buckets keyed by a COMPOSITE of two
    fields (lang, source), ordered by doc count — the agg ES added
    because nesting terms-in-terms can't rank by the combined count.
    One hash agg, map-side combined; top-N via TakeOrdered."""
    d = t["documents"]
    return (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("lang"), F.asc("source"))
        .limit(size)
    )


def t_test_agg(
    spark: SparkSession, t, type_a: str = "click", type_b: str = "error"
) -> DataFrame:
    """ES `t_test` aggregation (heteroscedastic / Welch, the ES default):
    compare the mean of `value` between two event populations. Built
    from the exact mergeable moment vector {n, Σx, Σx²} per group (the
    same shard-combinable shape ES ships), then ONE shared float
    expression tree for mean/variance/t — engine-identical doubles.
    Values are scaled to exact integer cents before summing so the
    moments are order-independent."""
    ev = t["events"].where(F.col("event_type").isin([type_a, type_b]))
    cents = F.round(F.col("value") * 100, 0).cast("long")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    a = m.where(F.col("event_type") == type_a).select(
        F.col("n").alias("na"), F.col("s1").alias("sa"), F.col("s2").alias("qa")
    )
    b = m.where(F.col("event_type") == type_b).select(
        F.col("n").alias("nb"), F.col("s1").alias("sb"), F.col("s2").alias("qb")
    )
    j = a.crossJoin(b)
    mean = lambda s, n: (s.cast("double") / 100.0) / n.cast("double")
    # sample variance of cents/100: (Σx² - Σx²/n) / (n-1), all from ints
    var = lambda s, q, n: (
        (q.cast("double") / 10000.0)
        - (s.cast("double") / 100.0) * (s.cast("double") / 100.0)
        / n.cast("double")
    ) / (n.cast("double") - 1.0)
    ma, mb = mean(F.col("sa"), F.col("na")), mean(F.col("sb"), F.col("nb"))
    va, vb = var(F.col("sa"), F.col("qa"), F.col("na")), var(
        F.col("sb"), F.col("qb"), F.col("nb")
    )
    tstat = (ma - mb) / F.sqrt(
        va / F.col("na").cast("double") + vb / F.col("nb").cast("double")
    )
    return j.select(
        F.col("na"), F.col("nb"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(tstat, 6).alias("t_stat"),
    )


def boxplot_agg(spark: SparkSession, t) -> DataFrame:
    """ES `boxplot` aggregation per event_type: min / q1 / median / q3 /
    max + IQR whiskers (Tukey 1.5*IQR, clamped to observed min/max —
    the ES definition). Exact interpolated quantiles (ES uses TDigest;
    exact is the stronger contract and its oracle)."""
    ev = t["events"].select("event_type", "value")
    q = ev.groupBy("event_type").agg(
        F.min("value").alias("vmin"),
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.5)).alias("q2"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
        F.max("value").alias("vmax"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.greatest(F.col("vmin"), F.col("q1") - 1.5 * iqr)
    hi = F.least(F.col("vmax"), F.col("q3") + 1.5 * iqr)
    return q.select(
        "event_type",
        F.round("vmin", 6).alias("min"),
        F.round("q1", 6).alias("q1"),
        F.round("q2", 6).alias("median"),
        F.round("q3", 6).alias("q3"),
        F.round("vmax", 6).alias("max"),
        F.round(lo, 6).alias("lower_whisker"),
        F.round(hi, 6).alias("upper_whisker"),
    ).orderBy("event_type")


def doclen_percentiles_approx(
    spark: SparkSession, t, accuracy: int = 10000
) -> DataFrame:
    """The at-scale twin of :func:`doclen_percentiles`: single-pass,
    mergeable `approx_percentile` (Greenwald-Khanna sketch; ES itself
    serves percentiles from a t-digest). Approximate by design ->
    rows-only in the driver gate; the pytest oracle bounds each
    reported percentile against the exact interpolated value."""
    dl = t["documents"].select(
        F.size(tokens_col("text")).cast("long").alias("doclen")
    )
    return dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_percentile("doclen", F.lit(0.5), F.lit(accuracy)).alias("p50"),
        F.approx_percentile("doclen", F.lit(0.9), F.lit(accuracy)).alias("p90"),
        F.approx_percentile("doclen", F.lit(0.99), F.lit(accuracy)).alias("p99"),
    )


def normalize_agg(spark: SparkSession, t) -> DataFrame:
    """ES `normalize` pipeline agg (method=percent_of_sum): each daily
    bucket's share of its event_type's total. Exact integer counts, one
    divide per bucket at emit."""
    ev = t["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type")
    return (
        daily.withColumn(
            "pct_of_total",
            F.round(
                F.col("n_events").cast("double")
                / F.sum("n_events").over(w).cast("double")
                * 100.0,
                6,
            ),
        )
        .orderBy("event_type", "bucket")
    )


def bucket_sort_agg(
    spark: SparkSession, t, offset: int = 2, size: int = 5
) -> DataFrame:
    """ES `bucket_sort` pipeline agg: reorder + paginate a parent agg's
    buckets by a metric (busiest days 3-7 here) — runs on the reduced
    bucket rows, so it is a driver-small window however big the child
    scan was."""
    ev = t["events"]
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.orderBy(F.desc("n_events"), F.asc("bucket"))
    return (
        daily.withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") > offset) & (F.col("rk") <= offset + size))
        .select("rk", "bucket", "n_events")
        .orderBy("rk")
    )


def rate_agg(spark: SparkSession, t) -> DataFrame:
    """ES `rate` aggregation (unit=hour inside day buckets): per-day
    event rate per hour — the calendar-aware normalization ES added so
    month buckets of different lengths compare fairly; day/24 is its
    fixed-length case."""
    ev = t["events"]
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "bucket",
            "n_events",
            F.round(F.col("n_events").cast("double") / 24.0, 6).alias(
                "per_hour"
            ),
        )
        .orderBy("bucket")
    )


def serial_diff_agg(spark: SparkSession, t, lag: int = 1) -> DataFrame:
    """ES `serial_diff` pipeline agg: n-th order differencing of a
    date-histogram series (lag=1 = day-over-day change), per
    event_type. Window over reduced bucket rows."""
    ev = t["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    return (
        daily.withColumn(
            "diff", F.col("n_events") - F.lag("n_events", lag).over(w)
        )
        .orderBy("event_type", "bucket")
    )


def top_metrics_agg(spark: SparkSession, t) -> DataFrame:
    """ES `top_metrics` aggregation: the metric value carried by the TOP
    document under a sort — per event_type, `value` at the latest event
    (sort: ts desc). One window, rank-1 row per bucket; the agg ES
    built because top_hits fetches whole documents when you only want
    one field."""
    ev = t["events"]
    w = Window.partitionBy("event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("ts").alias("top_ts"),
            F.round("value", 6).alias("top_value"),
        )
        .orderBy("event_type")
    )


def string_stats_agg(spark: SparkSession, t) -> DataFrame:
    """ES `string_stats` (show_distribution basis): count / min / max /
    avg length of a keyword field plus the Shannon entropy of its
    CHARACTER distribution. Exact integer char counts -> one shared
    float tree for the entropy sum (per-char terms are identical
    doubles in both engines; the sum of ~36 such terms is ulp-stable
    under the 6 dp emit rounding)."""
    d = t["documents"]
    lens = d.agg(
        F.count(F.lit(1)).alias("count"),
        F.min(F.length("source")).alias("min_length"),
        F.max(F.length("source")).alias("max_length"),
        F.sum(F.length("source")).alias("_total_chars"),
    )
    chars = (
        d.select(F.explode(F.split(F.col("source"), "")).alias("ch"))
        .where(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ent = chars.agg(
        F.sum("n").alias("total"),
        F.sum(
            -(F.col("n").cast("double"))
            * F.log2(F.col("n").cast("double"))
        ).alias("_nlogn"),
    ).select(
        # -sum(p log2 p) = log2(total) - sum(n log2 n)/total : exact ints
        # feed ONE float expression, identical across engines.
        (
            F.log2(F.col("total").cast("double"))
            + F.col("_nlogn") / F.col("total").cast("double")
        ).alias("entropy")
    )
    return lens.crossJoin(ent).select(
        "count",
        "min_length",
        "max_length",
        F.round(
            F.col("_total_chars").cast("double") / F.col("count"), 6
        ).alias("avg_length"),
        F.round("entropy", 6).alias("entropy"),
    )


def cumulative_cardinality(spark: SparkSession, t) -> DataFrame:
    """ES ``cumulative_cardinality`` pipeline aggregation over a daily
    date-histogram of events: per bucket, the running count of DISTINCT
    user_ids seen so far — "total unique users to date", the canonical
    growth-dashboard line.

    ES computes this by merging per-bucket HLL sketches, so its answer
    is approximate. The distributed-EXACT form is the first-seen
    transform: cumulative cardinality at bucket b == the number of keys
    whose FIRST appearance is <= b, so ONE hash agg per user (min
    bucket), one tiny rollup onto buckets, and a running sum over those
    reduced rows replaces any distinct-within-prefix scan. That is also
    the scalable form — the heavy agg is keyed on user_id (map-side
    combined), and the only window runs over ~|buckets| rows (the
    bounded-window pattern shared with the other pipeline aggs).

    Buckets follow the histogram's min_doc_count=1 semantics (all
    OBSERVED buckets emit a row, even when no new user arrives —
    new_users=0, running total carried forward), exactly as the ES
    pipeline emits a value per parent bucket."""
    e = t["events"]
    day = F.date_trunc("day", F.col("ts")).alias("bucket")
    hist = e.groupBy(day).agg(F.count(F.lit(1)).alias("n_events"))
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("bucket")
    )
    new_users = first_seen.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.join(new_users, "bucket", "left")
        .select(
            "bucket",
            "n_events",
            F.coalesce(F.col("new_users"), F.lit(0).cast("long")).alias(
                "new_users"
            ),
        )
        .withColumn("cumulative_users", F.sum("new_users").over(w))
        .orderBy("bucket")
    )


def tfidf_keywords(spark: SparkSession, t, k: int = 3) -> DataFrame:
    """Per-document keyword extraction: the top-k terms by tf-idf
    (tf normalized by doc length; idf = ln(N/df)) — the classic
    document-summarization / tagging primitive, and the exact-scoring
    sibling of the BM25 statistics the index already maintains.

    Scale shape: two hash aggs (per-(doc,term) tf and per-term df —
    both map-side combined), one join back on term (the df frame is
    vocabulary-sized: AQE broadcasts it while small, degrades to a
    shuffle join at web-scale vocabularies — both correct), and the
    top-k window partitioned BY DOC (parallel per key, heap-sized
    state). Determinism: score is one fixed-shape double expression of
    integer inputs — distinct (tf, doclen, df) triples are separated
    far beyond ulp, equal triples give bit-equal doubles in both
    engines, and the tie then falls to the term — so Spark and the
    oracle rank identically."""
    d = t["documents"]
    tok = d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dl, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            (F.col("tf").cast("double") / F.col("doclen"))
            * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "doc_id",
            F.col("rk").cast("long").alias("rk"),
            "term",
            "tf",
            F.round("score", 6).alias("score"),
        )
        .orderBy("doc_id", "rk")
    )


def percentiles_bucket(spark: SparkSession, t) -> DataFrame:
    """ES ``percentiles_bucket`` pipeline aggregation: percentiles OF A
    SIBLING METRIC ACROSS BUCKETS — here the daily event count over the
    events date-histogram ("what does a typical / heavy day look
    like"). Unlike the `percentiles` agg (over raw values), the
    pipeline form runs over the REDUCED bucket frame (~|days| rows), so
    the exact interpolated percentile is free at any event count: the
    heavy lifting is ONE map-side-combined count per day; the
    percentile runs driver-scale. Same linear (n-1)*q interpolation as
    DuckDB's quantile_cont (the doclen_percentiles precedent)."""
    e = t["events"]
    hist = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return hist.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.expr("percentile(n_events, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(n_events, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_events, 0.75)"), 6).alias("p75"),
        F.min("n_events").alias("min_bucket"),
        F.max("n_events").alias("max_bucket"),
    )


MOVING_PCT_WINDOW = 7  # trailing buckets (ES `window`)


def moving_percentiles(spark: SparkSession, t) -> DataFrame:
    """ES ``moving_percentiles`` pipeline aggregation: for each
    date-histogram bucket, percentiles of the sibling metric over the
    TRAILING window of buckets (here: 7-day trailing p50/p90 of the
    daily event count — the smoothed-load dashboard line). ES slides a
    merged t-digest; the exact interpolated form here is what that
    sketch converges to, and runs over the REDUCED bucket frame
    (~|days| rows — the bounded-window pattern of the other pipeline
    aggs), so exactness is free at any event count. Partial leading
    windows use however many buckets exist, per ES semantics."""
    e = t["events"]
    hist = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.orderBy("bucket").rowsBetween(
        -(MOVING_PCT_WINDOW - 1), 0
    )
    return (
        hist.select(
            "bucket",
            "n_events",
            F.round(
                F.expr("percentile(n_events, 0.5)").over(w), 6
            ).alias("moving_p50"),
            F.round(
                F.expr("percentile(n_events, 0.9)").over(w), 6
            ).alias("moving_p90"),
        )
        .orderBy("bucket")
    )


def cumulative_sum_agg(spark: SparkSession, t) -> DataFrame:
    """ES `cumulative_sum` pipeline agg: running total of a
    date-histogram metric, per event_type — the monotone counter view
    of a daily series. Ref analog: the reference's ES analytics calls
    return date-bucketed counts (extractor/loader.go:239-379); this is
    the standard pipeline stage ES layers on them. Window over the
    REDUCED bucket rows (n_types x n_days), never the raw events —
    the shuffle is the date_histogram's, the window input is tiny."""
    ev = t["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.withColumn("running", F.sum("n_events").over(w))
        .orderBy("event_type", "bucket")
    )


def derivative_agg(spark: SparkSession, t) -> DataFrame:
    """ES `derivative` pipeline agg with unit normalization: the
    bucket-over-bucket rate of change of a date-histogram count, per
    day of actual x-axis distance — gap-aware (ES divides by the fixed
    bucket interval; dividing by the REAL timestamp gap generalizes to
    sparse histograms and is identical when buckets are contiguous).
    Exact integer delta and day count, ONE float divide — the shared
    float-tree discipline. Same reduced-bucket window shape as
    :func:`serial_diff_agg`."""
    ev = t["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    gap_days = F.datediff(
        F.col("bucket").cast("date"),
        F.lag(F.col("bucket").cast("date"), 1).over(w),
    )
    delta = F.col("n_events") - F.lag("n_events", 1).over(w)
    return (
        daily.withColumn(
            "per_day",
            F.round(delta.cast("double") / gap_days.cast("double"), 6),
        )
        .orderBy("event_type", "bucket")
    )


def bucket_correlation_agg(spark: SparkSession, t) -> DataFrame:
    """ES `bucket_correlation` pipeline agg (8.x, the count_correlation
    function): Pearson correlation between each event_type's daily
    count series and the OVERALL daily count series — "which signals
    track total traffic". Missing type-days count 0 (date_histogram
    min_doc_count=0 semantics).

    Determinism: the correlation is computed from the exact mergeable
    integer moment vector {n, Σx, Σy, Σxy, Σx², Σy²} (the same
    shard-combinable shape as :func:`t_test_agg`), with ALL integer
    arithmetic done exactly first and ONE shared float expression tree
    at the end — engine-identical doubles. At 100 TB the daily counts
    fit long and the products fit DECIMAL; the moment groupBy is
    map-side combined, the join input is n_types x n_days rows."""
    ev = t["events"]
    day = F.date_trunc("day", F.col("ts")).alias("bucket")
    typed = ev.groupBy("event_type", day).agg(
        F.count(F.lit(1)).alias("x")
    )
    total = ev.groupBy(day).agg(F.count(F.lit(1)).alias("y"))
    types = typed.select("event_type").distinct()
    grid = types.crossJoin(total)  # every type x every day, y attached
    xy = grid.join(typed, ["event_type", "bucket"], "left").select(
        "event_type",
        F.coalesce("x", F.lit(0)).alias("x"),
        "y",
    )
    m = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return (
        m.select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round(num / (F.sqrt(denx) * F.sqrt(deny)), 6).alias("corr"),
        )
        .orderBy("event_type")
    )


def change_point_agg(spark: SparkSession, t) -> DataFrame:
    """ES `change_point` agg / ES|QL CHANGE_POINT analog: the most
    likely step-change in each event_type's daily count series. For a
    series x_1..x_N, every split i (left 1..i, right i+1..N) scores
    ``|mean_R - mean_L| * sqrt(i * (N - i) / N)`` — the two-sample mean
    shift scaled by the pooled size factor (the CUSUM-style scan
    statistic); the winner is the split with the maximal score, ties to
    the earliest bucket, and the reported bucket is where the new
    regime STARTS (row i+1). A documented deterministic variant of ES's
    ML change_point (which is not reproducible across runs).

    Determinism: prefix sums / counts are exact integers via one
    ordered window over the REDUCED bucket rows; the score is one
    shared float tree; the argmax orders on those bit-identical doubles
    with a bucket tie-break. Scale: windows run per event_type over
    n_days rows — the heavy lifting is the date_histogram's single
    shuffle."""
    ev = t["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    wall = Window.partitionBy("event_type")
    pre = (
        daily.withColumn("i", F.row_number().over(w))
        .withColumn(
            "cum",
            F.sum("n_events").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("N", F.count(F.lit(1)).over(wall))
        .withColumn("S", F.sum("n_events").over(wall))
        # lead BEFORE the i < N filter: the last split's right segment
        # starts at the series' final bucket, which the filter drops
        .withColumn("change_at", F.lead("bucket", 1).over(w))
    )
    splits = pre.where(F.col("i") < F.col("N"))
    i, cum = F.col("i").cast("double"), F.col("cum").cast("double")
    n, s = F.col("N").cast("double"), F.col("S").cast("double")
    mean_l = cum / i
    mean_r = (s - cum) / (n - i)
    stat = F.abs(mean_r - mean_l) * F.sqrt(i * (n - i) / n)
    scored = splits.withColumn("stat", stat)
    best = Window.partitionBy("event_type").orderBy(
        F.desc("stat"), F.asc("bucket")
    )
    return (
        scored.withColumn("rk", F.row_number().over(best))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("change_at").alias("change_bucket"),
            F.round(F.col("stat"), 6).alias("stat"),
            F.round(mean_l, 6).alias("mean_before"),
            F.round(mean_r, 6).alias("mean_after"),
        )
        .orderBy("event_type")
    )


def extended_stats_bucket(spark: SparkSession, t) -> DataFrame:
    """ES ``extended_stats_bucket`` sibling-pipeline agg: the
    extended-stats row (variance/std_dev/±2σ bounds on top of
    :func:`stats_bucket`'s count/min/max/sum/avg) over each
    event_type's daily-count buckets — the "is today's traffic outside
    the band" dashboard primitive.

    Determinism: variance comes from the exact integer moment vector
    (n, Σx, Σx²): ``var = (n·Σx² − (Σx)²) / n²`` — integer numerator
    and denominator computed exactly, ONE double divide; std_dev is
    ``sqrt(var)`` (IEEE sqrt is correctly rounded — bit-identical on
    both engines); bounds are avg ± 2.0·std, the same shared float
    tree both sides. Same two stacked map-side-combined hash aggs as
    stats_bucket; min_doc_count=1 semantics (observed buckets only).
    At 100 TB the daily counts fit long and n·Σx² fits DECIMAL."""
    e = t["events"]
    hist = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = hist.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.min("n").alias("min_bucket"),
        F.max("n").alias("max_bucket"),
        F.sum("n").alias("sum_events"),
        F.sum(F.col("n") * F.col("n")).alias("sx2"),
    )
    avg = F.col("sum_events").cast("double") / F.col("n_buckets").cast(
        "double"
    )
    var = (
        F.col("n_buckets") * F.col("sx2")
        - F.col("sum_events") * F.col("sum_events")
    ).cast("double") / (F.col("n_buckets") * F.col("n_buckets")).cast(
        "double"
    )
    std = F.sqrt(var)
    return (
        m.select(
            "event_type",
            "n_buckets",
            "min_bucket",
            "max_bucket",
            "sum_events",
            F.round(avg, 6).alias("avg_per_bucket"),
            F.round(var, 6).alias("variance"),
            F.round(std, 6).alias("std_dev"),
            F.round(avg + F.lit(2.0) * std, 6).alias("upper2"),
            F.round(avg - F.lit(2.0) * std, 6).alias("lower2"),
        )
        .orderBy("event_type")
    )


MOVING_FN_WINDOW = 7


def moving_fn_agg(
    spark: SparkSession, t, window: int = MOVING_FN_WINDOW
) -> DataFrame:
    """ES ``moving_fn`` pipeline agg with the ``linearWeightedAvg``
    built-in: over the trailing ``window`` daily buckets (current
    included — the same frame convention as :func:`moving_percentiles`),
    the linearly-weighted average w·x = Σ i·x_i / Σ i with weights
    1..k oldest→newest — the lag-reducing smoother. Partial leading
    windows use however many buckets exist (ES semantics).

    Determinism: the weighted numerator is an exact integer fold over
    the collected window array (zip_with index weights / DuckDB
    1-based list_transform — same weights), the denominator
    k(k+1)/2 an exact integer (always even product), ONE double
    divide. Window input is the REDUCED daily frame (~|days| rows),
    so the collect_list array is bounded by ``window`` — O(w) state
    per row at any event count."""
    e = t["events"]
    hist = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("bucket").rowsBetween(-(int(window) - 1), 0)
    out = hist.select(
        "bucket", "n", F.collect_list("n").over(w).alias("vs")
    )
    num = F.expr(
        "aggregate(zip_with(vs, sequence(1, size(vs)),"
        " (v, i) -> v * cast(i as long)), 0L, (a, x) -> a + x)"
    )
    den = F.expr("(size(vs) * (size(vs) + 1)) div 2")
    return (
        out.select(
            "bucket",
            "n",
            F.round(
                num.cast("double") / den.cast("double"), 6
            ).alias("lwa"),
        )
        .orderBy("bucket")
    )


def bucket_count_ks_test_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``bucket_count_ks_test`` pipeline agg (8.x, two-sample
    Kolmogorov–Smirnov): for each event_type, the KS D statistic
    between its daily-count distribution and the OVERALL daily-count
    distribution across the date_histogram — "does this signal's
    arrival shape deviate from total traffic". Missing type-days count
    0 (min_doc_count=0 grid, the :func:`bucket_correlation_agg`
    construction).

    Determinism: D = max_i |cumT_i/T − cumA_i/A| is computed as the
    exact integer maximum of |cumT_i·A − cumA_i·T| followed by ONE
    double divide by T·A — no per-bucket float comparisons, so the
    argmax cannot flip on rounding. At 100 TB cum·total products need
    DECIMAL(38) (exactly representable); the window input is the
    reduced n_types × n_days grid, never the raw events."""
    ev = t["events"]
    day = F.date_trunc("day", F.col("ts")).alias("bucket")
    typed = ev.groupBy("event_type", day).agg(
        F.count(F.lit(1)).alias("x")
    )
    total = ev.groupBy(day).agg(F.count(F.lit(1)).alias("y"))
    types = typed.select("event_type").distinct()
    grid = types.crossJoin(total)
    xy = grid.join(typed, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("x", F.lit(0)).alias("x"),
        "y",
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cums = xy.select(
        "event_type",
        F.sum("x").over(wcum).alias("cx"),
        F.sum("y").over(wcum).alias("cy"),
        F.sum("x").over(wall).alias("tx"),
        F.sum("y").over(wall).alias("ty"),
    )
    num = F.abs(F.col("cx") * F.col("ty") - F.col("cy") * F.col("tx"))
    return (
        cums.select("event_type", num.alias("num"), "tx", "ty")
        .groupBy("event_type", "tx", "ty")
        .agg(F.max("num").alias("mnum"), F.count(F.lit(1)).alias("n_days"))
        .select(
            "event_type",
            "n_days",
            F.round(
                F.col("mnum").cast("double")
                / (F.col("tx") * F.col("ty")).cast("double"),
                6,
            ).alias("d_stat"),
        )
        .orderBy("event_type")
    )


def runtime_fields_agg(spark: SparkSession, t) -> DataFrame:
    """ES RUNTIME FIELDS (runtime_mappings): a field that exists only
    at query time — defined by a script over stored fields, then used
    in the query filter AND the aggregation like any mapped field
    (schema-on-read). Here: ``band = least(n_chars // 100, 5)`` (an
    integer script — no float), filtered to lang IN (en, de), then a
    terms-agg row per band with count and min/max of the source field.

    Spark IS schema-on-read: the runtime field is a projection column,
    Catalyst fuses it into the scan — zero materialization, exactly
    ES's "calculated at search time" contract. One map-side-combined
    hash agg; the filter prunes before the projection."""
    d = t["documents"]
    band = F.least(F.expr("n_chars div 100"), F.lit(5)).cast("long")
    return (
        d.where(F.col("lang").isin(["en", "de"]))
        .withColumn("band", band)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.count_distinct(F.col("source")).alias("n_sources"),
        )
        .orderBy("band")
    )


def missing_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``missing`` aggregation: per-bucket count of docs that do NOT
    have a value for a field, next to the sibling count that do. The
    field here is a SPARSE runtime field (``big_k = props.k when k >=
    90`` — a JSON-extracted value most events lack), which is exactly
    the shape the missing agg exists for in ES: optional fields where
    absence is signal.

    Scale shape: the JSON extraction and the null test are map-side
    projections Catalyst fuses into the scan; ONE hash agg with two
    conditional counts — missing docs never route through a second
    scan or an anti-join (ref analog: the loader's per-batch counters,
    extractor/loader.go:239-379, count absent fields the same single-
    pass way)."""
    e = t["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    big_k = F.when(k >= 90, k)
    return (
        e.select("event_type", big_k.alias("big_k"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("big_k").isNull(), 1)).alias("missing_docs"),
            F.count("big_k").alias("present_docs"),
            F.coalesce(F.min("big_k"), F.lit(0)).alias("min_big_k"),
        )
        .orderBy("event_type")
    )


def global_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``global`` aggregation: a bucket that ESCAPES the query scope
    — the response carries query-scoped aggs and whole-index aggs side
    by side (the classic "this search vs all products" comparison row).
    Query scope here: ``lang = 'en'`` docs.

    Spark shape: ES evaluates the global bucket by re-walking the full
    index alongside the filtered query; here both scopes come out of
    ONE pass — the query scope is a conditional aggregate (count/sum
    over ``F.when(scope, x)``) inside the same hash agg that computes
    the global totals, so the "second scan" ES pays is free. Sums stay
    long/BIGINT on both engines (canon pin)."""
    d = t["documents"]
    in_q = F.col("lang") == "en"
    return d.agg(
        F.count(F.when(in_q, 1)).alias("query_docs"),
        F.coalesce(F.sum(F.when(in_q, F.col("n_chars"))), F.lit(0)).alias(
            "query_chars"
        ),
        F.count(F.lit(1)).alias("all_docs"),
        F.sum("n_chars").alias("all_chars"),
    )


def scripted_metric_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``scripted_metric`` aggregation: user init/map/combine/reduce
    scripts folded over each shard then merged. The canonical ES-docs
    example — map emits +amount for one transaction kind and -amount
    for the rest; reduce sums the shard partials — over events, keyed
    by event_type, with the amount taken from the integer ``props.k``
    runtime field so the fold is EXACT (order-free integer adds, no
    float-order hazard).

    Spark shape: an associative-commutative map/combine/reduce IS a
    hash aggregate — the map script is the projection, the combine is
    the map-side partial agg, the reduce is the final merge. The only
    scripted_metric programs that are correct on ES shards are exactly
    the ones expressible this way (ES's own docs require associative
    commutative combine), so the declarative form loses nothing."""
    e = t["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    signed = F.when(F.col("event_type") == "purchase", k).otherwise(-k)
    return (
        e.select("event_type", k.alias("k"), signed.alias("signed"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("signed").alias("net_amount"),
            F.max("k").alias("max_amount"),
        )
        .orderBy("event_type")
    )


def significant_text_agg(
    spark: SparkSession, t, query_term: str = "merge", size: int = 20,
    min_fg_df: int = 3,
) -> DataFrame:
    """ES ``significant_text`` aggregation: like significant_terms but
    re-analyzes the free-text SOURCE at query time (no index needed)
    and — its defining feature — ``filter_duplicate_text``: copies of
    the same text must not inflate significance. Foreground = docs
    matching the query term; scoring is ES's default JLH, the
    significant_terms discipline.

    Dedup semantics: one voting copy per distinct text digest (md5 of
    the raw text), keeping each duplicate group's lowest doc_id —
    deterministic, unlike ES's heuristic near-dup suppressor, and the
    same digest key the dedup_exact operator uses. Scale shape: the
    digest keep-first is one window over the 16-byte key; then the
    single-pass fg/bg conditional agg from significant_terms — no
    second explode, no term join."""
    d = t["documents"]
    keep = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup = (
        d.withColumn("_rk", F.row_number().over(keep))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
    fg_flag = F.array_contains(tokens_col("text"), query_term)
    totals = dedup.agg(
        F.count(F.lit(1)).alias("n_bg"),
        F.count(F.when(fg_flag, 1)).alias("n_fg"),
    ).collect()[0]
    n_bg, n_fg = int(totals.n_bg), int(totals.n_fg)
    if n_fg == 0:
        return spark.createDataFrame(
            [], "term string, fg_df long, bg_df long, score double"
        )
    tokset = dedup.select(
        "doc_id",
        fg_flag.alias("_fg"),
        F.explode(tokens_col("text")).alias("term"),
    ).distinct()
    stats = (
        tokset.groupBy("term")
        .agg(
            F.count(F.when(F.col("_fg"), 1)).alias("fg_df"),
            F.count(F.lit(1)).alias("bg_df"),
        )
        .where(F.col("fg_df") >= min_fg_df)
    )
    fg_pct = F.col("fg_df").cast("double") / F.lit(float(n_fg))
    bg_pct = F.col("bg_df").cast("double") / F.lit(float(n_bg))
    return (
        stats.select(
            "term",
            "fg_df",
            "bg_df",
            F.round((fg_pct - bg_pct) * fg_pct / bg_pct, 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(size)
    )


# Web-mercator constant shared by both geotile renders — written as the
# double literal so the Spark and DuckDB float trees are identical.
_GEO_PI = 3.141592653589793


def geotile_grid_agg(spark: SparkSession, t, zoom: int = 3) -> DataFrame:
    """ES ``geotile_grid`` aggregation over a RUNTIME geo_point: docs
    bucketed into web-mercator map tiles, keyed "z/x/y" (ES's geotile
    key format), count-ranked. The corpus has no geo column, so the
    point is a runtime field derived deterministically from doc_id
    (the runtime_fields_agg discipline): lat/lon land on x.5-degree
    grid points — exactly representable doubles that never sit on a
    tile boundary, so the floor() at the end of the float tree cannot
    flip between engines. A geo_bounding_box filter (pure comparisons
    on those exact doubles) scopes the query first, as an ES geo
    search would.

    Tile math (slippy scheme, the ES formula):
      x = floor((lon+180)/360 * 2^z)
      y = floor((1 - ln(tan(φ) + 1/cos(φ))/π) / 2 * 2^z)
    rendered as ONE identical float expression tree on both engines.
    Scale shape: projection + floor are map-side; one hash agg on the
    integer (x, y) key; no geo library, no UDF."""
    d = t["documents"]
    lat = ((F.col("doc_id") * 37 % 170) - 85).cast("double") + 0.5
    lon = ((F.col("doc_id") * 73 % 360) - 180).cast("double") + 0.5
    n = float(1 << zoom)
    pts = d.select("doc_id", lat.alias("lat"), lon.alias("lon")).where(
        (F.col("lat") >= -60.5) & (F.col("lat") <= 70.5)
        & (F.col("lon") >= -150.5) & (F.col("lon") <= 150.5)
    )
    rad = F.col("lat") * _GEO_PI / 180.0
    xt = F.floor((F.col("lon") + 180.0) / 360.0 * n)
    yt = F.floor(
        (1.0 - F.log(F.tan(rad) + 1.0 / F.cos(rad)) / _GEO_PI) / 2.0 * n
    )
    return (
        pts.select(xt.alias("xt"), yt.alias("yt"))
        .groupBy("xt", "yt")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .select(
            F.concat_ws(
                "/", F.lit(zoom), F.col("xt"), F.col("yt")
            ).alias("tile"),
            "doc_count",
        )
        .orderBy(F.desc("doc_count"), F.asc("tile"))
    )


def geo_distance_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``geo_distance`` aggregation: docs bucketed into concentric
    rings around an origin, over the same RUNTIME geo_point as
    :func:`geotile_grid_agg`. ES measures arc meters; the deterministic
    reading here is PLANAR degree distance — and because the derived
    lat/lon sit on x.5-degree grid points with the origin at (0.5,
    0.5), the offsets are exact INTEGERS, the squared distance is an
    exactly-representable double, and every ring comparison is exact
    (squared thresholds — no sqrt anywhere near a boundary).

    Ring edges follow ES's from/to convention: [0,30) [30,60) [60,90)
    [90,∞). Scale shape: projection + CASE are map-side, one 4-row
    hash agg."""
    d = t["documents"]
    lat = ((F.col("doc_id") * 37 % 170) - 85).cast("double") + 0.5
    lon = ((F.col("doc_id") * 73 % 360) - 180).cast("double") + 0.5
    d2 = (lat - 0.5) * (lat - 0.5) + (lon - 0.5) * (lon - 0.5)
    ring = (
        F.when(d2 < 30.0 * 30.0, "0-30")
        .when(d2 < 60.0 * 60.0, "30-60")
        .when(d2 < 90.0 * 90.0, "60-90")
        .otherwise("90-inf")
    )
    return (
        d.select(ring.alias("ring"))
        .groupBy("ring")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("ring")
    )


def unigram_surprisal(spark: SparkSession, t) -> DataFrame:
    """CCNet-style LM quality proxy: per-doc unigram surprisal in bits
    per token — ``-1/n · Σ_tokens log2(cf_term / total_tokens)`` under
    the corpus's own unigram model. The cheap stand-in for the wiki-LM
    perplexity CCNet buckets documents by: gibberish and rare-token
    soup score high, stopword-heavy boilerplate scores low. (The real
    CCNet uses a 5-gram KenLM; the unigram form is the deterministic,
    model-free reading.)

    Float-determinism: a per-doc sum of logs is ORDER-SENSITIVE in
    IEEE doubles, and a distributed agg sums in shuffle order — so the
    fold runs over the doc's terms sorted lexicographically, as an
    explicit sequential left fold from 0.0 on BOTH engines (Spark
    ``F.aggregate`` over ``sort_array`` == DuckDB ``list_reduce`` over
    ``list(... ORDER BY term)`` with a prepended 0.0) — bit-identical,
    the engine-reproducibility contract. Scale shape: per-doc tf and
    corpus cf are the index build's own aggregates; the fold is
    map-side over each doc's distinct-term array (bounded by doclen);
    the 1-row total is the only collect."""
    d = t["documents"]
    tf = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    total = int(cf.agg(F.sum("cf")).collect()[0][0])
    parts = (
        tf.join(cf, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sort_array(
                F.collect_list(F.struct("term", "tf", "cf"))
            ).alias("parts"),
        )
    )
    fold = F.aggregate(
        "parts",
        F.lit(0.0),
        lambda acc, s: acc
        + s["tf"].cast("double")
        * F.log(F.lit(float(total)) / s["cf"].cast("double")),
    )
    return parts.select(
        "doc_id",
        "n_tokens",
        F.round(
            fold / F.log(F.lit(2.0)) / F.col("n_tokens").cast("double"), 6
        ).alias("bits_per_token"),
    ).orderBy("doc_id")


def terms_partition_agg(
    spark: SparkSession, t, num_partitions: int = 4, partition: int = 1,
    size: int = 10,
) -> DataFrame:
    """ES terms aggregation with ``include: {partition,
    num_partitions}``: the scale-out pagination for HUGE term
    cardinalities — each request walks one deterministic partition of
    the term space, and the union of partitions covers every term
    exactly once. ES partitions by murmur3(term); the engine's
    deterministic reading partitions by the term's RANK in the sorted
    vocabulary (``dense-rank % num_partitions`` — disjoint, exhaustive,
    reproducible on both engines, where a cross-engine murmur is not).

    Scale shape: the rank comes from :func:`~unichem2index_spark.
    operators.dedup.vocab_ids` — the two-level prefix-sum rank, NO
    global window anywhere (the oracle's ``row_number() OVER (ORDER BY
    term)`` is the semantic spec, not the plan) — joined to the df agg
    on the vocab frame (terms, not postings); the partition filter
    prunes before the top-N sort, so each request touches
    1/num_partitions of the vocab, which is the entire point of the
    API."""
    if not (0 <= partition < num_partitions):
        raise ValueError("terms_partition: need 0 <= partition < num")
    d = t["documents"]
    dfs = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ids = vocab_ids(d.select("doc_id", tokens_col("text").alias("tokens")))
    return (
        dfs.join(ids, "term")
        .where(F.col("token_id") % num_partitions == partition)
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(size)
    )


def diversified_sampler_agg(
    spark: SparkSession, t, max_per_source: int = 2, shard_size: int = 60,
    size: int = 10,
) -> DataFrame:
    """ES ``diversified_sampler`` aggregation: a bounded, de-biased
    sample — at most ``max_docs_per_value`` docs per diversity field
    value (source domain), capped at ``shard_size`` — feeding a child
    terms agg. The anti-domination agg: one over-crawled domain cannot
    swamp the term statistics. ES's sample is score-ordered per shard;
    the deterministic reading picks by the shared hash permutation
    (the domain_cap discipline), so the sample — and therefore the
    child agg — is reproducible at any parallelism.

    Scale shape: the per-source rank is one window on the domain key
    (state O(max_per_source) after the filter), the global cap is a
    second rank over the already-capped frame (≤ sources ·
    max_per_source rows), and only the ≤ shard_size sampled docs ever
    reach the tokenizer — the sampler's cost contract."""
    from unichem2index_spark.functions.hashing import FP_MULT, MOD

    d = t["documents"]
    perm = ((F.col("doc_id") % MOD + 1) * FP_MULT) % MOD
    w_src = Window.partitionBy("source").orderBy(
        perm.asc(), F.col("doc_id").asc()
    )
    w_all = Window.orderBy(perm.asc(), F.col("doc_id").asc())
    sample = (
        d.withColumn("_rk", F.row_number().over(w_src))
        .where(F.col("_rk") <= int(max_per_source))
        .withColumn("_gk", F.row_number().over(w_all))
        .where(F.col("_gk") <= int(shard_size))
    )
    return (
        sample.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(size)
    )


# random_sampler inclusion: perm % DEN == 0, i.e. probability 1/DEN —
# an exact integer contract shared with the oracle.
SAMPLER_DEN = 5


def random_sampler_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``random_sampler`` aggregation (8.2): child aggs run over a
    random p-fraction of matching docs and their doc_counts are scaled
    back up by 1/p — the cheap-estimate mode for dashboards over huge
    indices. ES's sample is seed-deterministic per shard; the engine's
    reading is fully deterministic at ANY parallelism: inclusion is
    ``hash_perm(doc_id) % 5 == 0`` (p = 0.2 exactly), so the oracle
    reproduces the identical sample and the scaled estimates are
    hash-checkable integers (estimate = sampled × 5 — exact, no float
    scaling).

    Scale shape: the inclusion test is a map-side modulo fused into
    the scan (docs outside the sample are never tokenized/aggregated —
    the agg's entire cost model), then ONE hash agg on the sampled
    fraction."""
    from unichem2index_spark.functions.hashing import FP_MULT, MOD

    d = t["documents"]
    perm = ((F.col("doc_id") % MOD + 1) * FP_MULT) % MOD
    return (
        d.where(perm % SAMPLER_DEN == 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("sampled_docs"),
            F.sum("n_chars").alias("sampled_chars"),
        )
        .select(
            "lang",
            "sampled_docs",
            (F.col("sampled_docs") * SAMPLER_DEN).alias("est_docs"),
            (F.col("sampled_chars") * SAMPLER_DEN).alias("est_chars"),
        )
        .orderBy("lang")
    )


def categorize_text_agg(
    spark: SparkSession, t, n_prefix: int = 2, size: int = 10
) -> DataFrame:
    """ES ``categorize_text`` aggregation: cluster semi-structured
    messages into categories by token pattern and count each category —
    the log-triage aggregation. ES runs a streaming drain-tree with
    similarity thresholds whose output depends on document ARRIVAL
    ORDER (explicitly not reproducible across shard layouts); the
    engine's deterministic reading is the prefix-skeleton category: the
    doc's first ``n_prefix`` analyzer tokens with number-bearing tokens
    wildcarded to ``*`` (ES likewise strips tokens that look numeric
    before matching). Same doc → same category at any parallelism.

    Top-``size`` categories by doc_count desc, key asc — a total order,
    so the cut is deterministic. Scale shape: the skeleton is a
    map-side expression over the already-tokenized array (no explode —
    ``slice`` reads only the prefix); ONE hash agg keyed by a short
    string, then a top-N sort over category-cardinality rows."""
    d = t["documents"]
    key = F.concat_ws(
        " ",
        F.transform(
            F.slice(tokens_col("text"), 1, n_prefix),
            lambda x: F.when(x.rlike("[0-9]"), F.lit("*")).otherwise(x),
        ),
    )
    return (
        d.select(key.alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("category"))
        .limit(size)
    )


def date_range_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``date_range`` aggregation over the events stream: docs
    bucketed by timestamp against explicit from/to edges (from
    inclusive, to exclusive — the ES contract), unbounded ends spelled
    ``*``. The calendar twin of the numeric ``range`` aggregation
    (:func:`range_agg`), and the first cut of every time-windowed
    dashboard.

    Scale shape: the bucket key is ONE map-side CASE on the timestamp
    column (comparisons against literal timestamps — pushable,
    codegen'd); one 3-row hash agg. At 100 TB the CASE arms align with
    time-partition pruning when the table is partitioned by day."""
    e = t["events"]
    b1, b2 = "2024-01-10", "2024-01-20"
    key = (
        F.when(F.col("ts") < F.lit(b1).cast("timestamp"), f"*-{b1}")
        .when(F.col("ts") < F.lit(b2).cast("timestamp"), f"{b1}-{b2}")
        .otherwise(f"{b2}-*")
    )
    return (
        e.select(key.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("bucket")
    )


def _geo_point():
    """The shared runtime geo_point derivation (same as
    :func:`geotile_grid_agg` / :func:`geo_distance_agg`): grid points
    at x.5 degrees, so every coordinate is an exactly-representable
    double and min/max/sum aggregates are EXACT on both engines."""
    lat = ((F.col("doc_id") * 37 % 170) - 85).cast("double") + 0.5
    lon = ((F.col("doc_id") * 73 % 360) - 180).cast("double") + 0.5
    return lat, lon


def geo_bounds_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``geo_bounds`` aggregation: the smallest bounding box
    enclosing each bucket's points, per lang — top_left = (max lat,
    min lon), bottom_right = (min lat, max lon), flattened to four
    numeric columns (struct outputs break pandas canonicalizers — the
    repo's canon rule). ``wrap_longitude`` subtleties don't apply: the
    deterministic runtime point never crosses the antimeridian.

    Scale shape: four min/max aggregates over map-side projected
    doubles — fully map-side combinable, one lang-cardinality hash
    agg, exact arithmetic throughout (x.5-degree grid)."""
    d = t["documents"]
    lat, lon = _geo_point()
    return (
        d.select("lang", lat.alias("lat"), lon.alias("lon"))
        .groupBy("lang")
        .agg(
            F.max("lat").alias("top_lat"),
            F.min("lon").alias("left_lon"),
            F.min("lat").alias("bottom_lat"),
            F.max("lon").alias("right_lon"),
        )
        .orderBy("lang")
    )


def geo_centroid_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``geo_centroid`` aggregation: the arithmetic mean point of
    each bucket, per lang (ES computes exactly this planar mean of
    lat/lon). Counts ride along as ES's ``count`` field.

    Float-determinism: every coordinate is a multiple of 0.5, so
    partial sums are EXACT integers-of-halves in doubles at any
    partitioning — the mean is order-insensitive without a sorted
    fold; round(6) at emit is belt-and-braces. Scale shape: one
    map-side projection, one lang-cardinality hash agg of sum/count."""
    d = t["documents"]
    lat, lon = _geo_point()
    return (
        d.select("lang", lat.alias("lat"), lon.alias("lon"))
        .groupBy("lang")
        .agg(
            F.round(F.avg("lat"), 6).alias("centroid_lat"),
            F.round(F.avg("lon"), 6).alias("centroid_lon"),
            F.count(F.lit(1)).alias("doc_count"),
        )
        .orderBy("lang")
    )


def nested_reverse_agg(spark: SparkSession, t, size: int = 15) -> DataFrame:
    """ES ``nested`` + ``reverse_nested`` aggregation pair: documents
    carry an array of nested sentence sub-documents (here the derived
    10-token chunks — the synthetic corpus is newline/sentence-free);
    the nested agg buckets by each sentence's LEADING term and counts
    sentence sub-docs, and the reverse_nested step counts the distinct
    PARENT documents per bucket — the "how many products have a review
    mentioning X" shape, where counting flattened rows would overcount
    parents.

    Plan shape: the nested path is one map-side transform over the
    already-tokenized array (``element_at`` reads only each chunk's
    first token — no chunk text is materialized) + explode; ONE hash
    agg computes count(*) and count(DISTINCT doc_id) together; top-N
    over bucket-cardinality rows. No join back to parents — the
    reverse_nested count rides the same shuffle."""
    d = t["documents"]
    base = d.select("doc_id", tokens_col("text").alias("toks")).where(
        F.size("toks") > 0
    )
    firsts = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, CAST(floor((size(toks) - 1) / 10)"
                " AS INT)), i -> element_at(toks, i * 10 + 1))"
            )
        ).alias("term"),
    )
    return (
        firsts.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_sentences"), F.asc("term"))
        .limit(size)
    )


def zipf_fit(spark: SparkSession, t, top_n: int = 100) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope of
    ln(collection frequency) vs ln(rank) for the top-``top_n`` terms —
    the standard corpus-health diagnostic (natural text sits near slope
    -1; a slope far off flags boilerplate domination or tokenizer
    breakage before any training run).

    Float discipline: ranks/cfs are exact integers; the four moment
    sums (Sx, Sy, Sxy, Sxx) each run as an explicit sequential fold in
    rank order from 0.0 (``F.aggregate`` over the rank-sorted list ==
    DuckDB ``list_reduce`` over ``list(... ORDER BY rank)``) so both
    engines add the same doubles in the same order; the slope/intercept
    tree is one shared expression. Scale shape: the vocab agg is the
    map-side-combined (term, cf) hash agg; the window ranks only the
    ``LIMIT top_n`` frame (bounded rows); the fold is driver-free."""
    from pyspark.sql.window import Window

    d = t["documents"]
    vocab = (
        d.select(F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(top_n)
    )
    ranked = vocab.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("cf"), F.asc("term"))),
    )
    arr = ranked.agg(
        F.sort_array(
            F.collect_list(F.struct("rank", "cf"))
        ).alias("pts")
    )
    def _fold(expr: str) -> F.Column:
        return F.expr(
            f"aggregate(transform(pts, p -> {expr}),"
            " CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
        )
    m = arr.select(
        F.size("pts").cast("double").alias("n"),
        _fold("ln(CAST(p.rank AS DOUBLE))").alias("sx"),
        _fold("ln(CAST(p.cf AS DOUBLE))").alias("sy"),
        _fold("ln(CAST(p.rank AS DOUBLE)) * ln(CAST(p.cf AS DOUBLE))").alias("sxy"),
        _fold("ln(CAST(p.rank AS DOUBLE)) * ln(CAST(p.rank AS DOUBLE))").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return m.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


HEAPS_BUCKET_DOCS = 100


def heaps_law(spark: SparkSession, t) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct vocabulary
    vs cumulative token count at fixed checkpoints of HEAPS_BUCKET_DOCS
    docs in doc_id order — the tokenizer-sizing / dedup-health curve (a
    deduplicated corpus keeps growing vocabulary; a duplicated one
    flattens early).

    Exact (no sketch): a term's first appearance is min(doc_id) over its
    postings — one map-side-combined hash agg on term; bucket rollups
    and the two running sums are windows over the reduced ~n_docs/100
    bucket frame. The 100-TB swap-in for the curve is the same shape
    with approx_count_distinct per prefix documented as the sketch twin
    (here the gate needs exact integers)."""
    from pyspark.sql.window import Window

    d = t["documents"]
    b = F.floor(F.col("doc_id") / HEAPS_BUCKET_DOCS).alias("bucket")
    toks_per_bucket = (
        d.select(b, F.size(tokens_col("text")).alias("n_toks"))
        .groupBy("bucket")
        .agg(F.sum("n_toks").alias("bucket_tokens"))
    )
    first_seen = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
        .select(
            F.floor(F.col("first_doc") / HEAPS_BUCKET_DOCS).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        toks_per_bucket.join(first_seen, "bucket", "left")
        .select(
            "bucket",
            "bucket_tokens",
            F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
        )
        .withColumn("cum_tokens", F.sum("bucket_tokens").over(w))
        .withColumn("cum_vocab", F.sum("new_terms").over(w))
    )
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
    ).orderBy("bucket")


def skipgram_pmi(spark: SparkSession, t, top_n: int = 20) -> DataFrame:
    """Skip-gram PMI association table (word2vec-style window ±2, left
    context only — each pair is (center, context-at-offset-1-or-2)):
    pointwise mutual information ln(T·c(a,b) / (c(a·)·c(·b))) over exact
    integer counts — the collocation statistics an embedding or
    phrase-mining pass trains from. Top-``top_n`` pairs by raw count
    (count desc, then w1/w2 asc — deterministic cut).

    Scale shape: pairs come from TWO map-side transforms of each token
    array with its 1- and 2-shifted self (flattened, no self-join, no
    window); the pair table is hash-agged map-side-combined; margins
    are two more aggs over the SAME pair frame, vocab-sized and
    broadcast into the top slice. Everything integer until ONE divide
    and ONE ln at emit."""
    d = t["documents"]
    # offset-2 rides the SAME 1..size-1 sequence with an in-bounds guard
    # (sequence(1, size-2) would DESCEND to [1, 0] on 2-token docs);
    # nulled out-of-bounds slots are filtered before the flatten.
    pair_expr = (
        "flatten(array("
        " transform(sequence(1, size(tokens) - 1),"
        "   i -> struct(tokens[i - 1] AS w1, tokens[i] AS w2)),"
        " filter(transform(sequence(1, size(tokens) - 1),"
        "   i -> if(i <= size(tokens) - 2,"
        "           struct(tokens[i - 1] AS w1, tokens[i + 1] AS w2),"
        "           null)),"
        "   x -> x is not null)))"
    )
    pairs = (
        d.select(tokens_col("text").alias("tokens"))
        .where(F.size("tokens") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.w1", "p.w2")
    )
    pairs = pairs.persist()
    cab = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    ca = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c_a"))
    cb = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("c_b"))
    tot = pairs.agg(F.count(F.lit(1)).alias("t_pairs"))
    top = (
        cab.orderBy(F.desc("c_ab"), F.asc("w1"), F.asc("w2"))
        .limit(top_n)
        .join(F.broadcast(ca), "w1")
        .join(F.broadcast(cb), "w2")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.log(
        (F.col("t_pairs") * F.col("c_ab")).cast("double")
        / (F.col("c_a") * F.col("c_b")).cast("double")
    )
    out = top.select(
        "w1",
        "w2",
        F.col("c_ab").cast("long").alias("c_ab"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        F.round(pmi, 6).alias("pmi"),
    ).orderBy(F.desc("c_ab"), F.asc("w1"), F.asc("w2"))
    return out


GEO_LINE_POINTS = 8


def geo_line_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``geo_line`` aggregation: per language, the travel path of the
    first GEO_LINE_POINTS points in doc_id (sort-field) order,
    serialized "lon,lat;lon,lat;..." — ES truncates at size just like
    the slice here. The geo_point is the same runtime x.5-degree-grid
    derivation as :func:`geotile_grid_agg` (exactly representable
    doubles; "%.1f" formatting round-trips them identically on both
    engines).

    Scale shape: ES caps geo_line at size points per bucket for the
    same reason this plan stays bounded — collect_list holds ≤ the
    bucket's rows but the emitted path is a fixed-size slice; the
    production form pre-filters to a time/doc range so per-bucket state
    is bounded. One hash agg keyed by lang, sort+slice inside the
    aggregated array, no window."""
    d = t["documents"]
    lat = ((F.col("doc_id") * 37 % 170) - 85).cast("double") + 0.5
    lon = ((F.col("doc_id") * 73 % 360) - 180).cast("double") + 0.5
    pts = d.select(
        "lang",
        F.struct(
            F.col("doc_id").alias("doc_id"),
            F.format_string("%.1f,%.1f", lon, lat).alias("s"),
        ).alias("p"),
    )
    return (
        pts.groupBy("lang")
        .agg(
            F.expr(
                f"concat_ws(';', transform(slice(sort_array(collect_list(p)),"
                f" 1, {GEO_LINE_POINTS}), x -> x.s))"
            ).alias("line"),
            F.count(F.lit(1)).cast("long").alias("n_points"),
        )
        .orderBy("lang")
    )


def readability(spark: SparkSession, t) -> DataFrame:
    """Flesch reading-ease per document - the classic readability
    featurizer corpus-quality pipelines bucket documents by. Heuristic
    components (the standard approximations): syllables = maximal
    lowercase vowel runs, sentences = terminal-punctuation runs, words
    = whitespace tokens; score = 206.835 - 1.015*(w/s) - 84.6*(y/w).

    Cross-engine float note: both engines evaluate the same literal
    constants and the same two double divisions in the same order (IEEE
    + * / only, no libm), so round(4) at emit hash-matches; the band
    CASE compares the ROUNDED score on both sides so banding can never
    straddle an un-rounded boundary differently.

    Map-only scan -> at 100 TB this runs at scan speed with zero
    shuffle besides the output sort (gate-bounded frame); on a real
    cluster the sort is dropped and this is a pure projection."""
    d = t["documents"]
    words = F.size(F.split(F.trim("text"), r"\s+")).cast("double")
    sents = F.greatest(
        F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
    ).cast("double")
    syl = F.greatest(
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")), F.lit(1)
    ).cast("double")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words / sents)
        - F.lit(84.6) * (syl / words)
    )
    band = (
        F.when(F.col("flesch") >= 70.0, F.lit("easy"))
        .when(F.col("flesch") >= 50.0, F.lit("standard"))
        .when(F.col("flesch") >= 30.0, F.lit("difficult"))
        .otherwise(F.lit("very_difficult"))
    )
    return (
        d.select(
            "doc_id",
            words.cast("bigint").alias("n_words"),
            sents.cast("bigint").alias("n_sents"),
            syl.cast("bigint").alias("n_syllables"),
            F.round(flesch, 4).alias("flesch"),
        )
        .withColumn("band", band)
        .orderBy("doc_id")
    )



TEXTRANK_DAMPING = 0.85
TEXTRANK_ITERS = 2
TEXTRANK_TOP = 20


def textrank_keywords(spark: SparkSession, t) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004),
    WEIGHTED variant: PageRank over the word co-occurrence graph -
    nodes are vocabulary terms, an undirected edge links terms
    co-occurring within the same ±2 window the skip-gram table uses,
    weighted by the co-occurrence COUNT (the weighted formulation from
    the paper's §3.1; unweighted degenerates to near-uniform mass on a
    small near-regular vocab graph). Contribution of s to t is
    pr(s)·w(s,t)/strength(s); two power iterations, damping 0.85, the
    per-dst contribution list folded in src order (same doubles, same
    order, both engines); round(9) at emit, term tie-break.

    Scale shape: pairs come from the same two map-side shifted-self
    transforms as skipgram_pmi (no self-join, no window); each
    iteration is one shuffle-on-dst agg + one co-partitioned join over
    vocab-sized frames."""
    d = t["documents"]
    pair_expr = (
        "flatten(array("
        " transform(sequence(1, size(tokens) - 1),"
        "   i -> struct(tokens[i - 1] AS w1, tokens[i] AS w2)),"
        " filter(transform(sequence(1, size(tokens) - 1),"
        "   i -> if(i <= size(tokens) - 2,"
        "           struct(tokens[i - 1] AS w1, tokens[i + 1] AS w2),"
        "           null)),"
        "   x -> x is not null)))"
    )
    raw = (
        d.select(tokens_col("text").alias("tokens"))
        .where(F.size("tokens") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.w1", "p.w2")
        .where(F.col("w1") != F.col("w2"))
    )
    wtab = (
        raw.select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = (
        wtab.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        .union(
            wtab.select(
                F.col("b").alias("src"), F.col("a").alias("dst"), "w"
            )
        )
        .persist()
    )
    nodes = edges.select(F.col("src").alias("term")).distinct()
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = edges.groupBy("src").agg(F.sum("w").alias("strength"))
    ed = edges.join(deg, "src")
    pr = nodes.crossJoin(F.broadcast(n_df)).select(
        "term", (F.lit(1.0) / F.col("n").cast("double")).alias("pr")
    )
    for _ in range(TEXTRANK_ITERS):
        contrib = (
            ed.join(pr.withColumnRenamed("term", "src"), "src")
            .groupBy("dst")
            .agg(
                F.aggregate(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                "src",
                                (
                                    F.col("pr")
                                    * F.col("w").cast("double")
                                    / F.col("strength").cast("double")
                                ).alias("v"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["v"],
                ).alias("c")
            )
        )
        pr = (
            nodes.crossJoin(F.broadcast(n_df))
            .join(contrib, nodes["term"] == contrib["dst"], "left")
            .select(
                "term",
                (
                    F.lit(1.0 - TEXTRANK_DAMPING) / F.col("n").cast("double")
                    + F.lit(TEXTRANK_DAMPING)
                    * F.coalesce("c", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return (
        pr.select("term", F.round("pr", 9).alias("textrank"))
        .orderBy(F.desc("textrank"), F.asc("term"))
        .limit(TEXTRANK_TOP)
    )


def postings_size_estimate(spark: SparkSession, t) -> DataFrame:
    """Index capacity planning: per-term postings-list size under
    delta-gap + varint encoding (the Lucene/PForDelta family's baseline
    layout) — doc ids sorted, gapped (first gap = id+1 so id 0 costs a
    byte), each gap costing ceil(bits/7) varint bytes. The planning
    numbers every index-sizing spreadsheet starts from: df, encoded
    bytes, bytes/posting. Exact integer math except the one rounded
    divide.

    Scale shape: one postings agg (map-side combined) + per-term array
    ops over each term's own posting list; the gap/byte computation is
    JVM array HOFs, no second shuffle. Per-term arrays are max-df-
    bounded (a stopword's is O(corpus) uncapped — see the
    elias_fano_audit caveat). Ref analog: the reference sizes
    its ES bulk batches byte-wise (extractor/loader.go buffer flush) —
    this is the same arithmetic applied to the index itself."""
    d = _tok(t["documents"])
    post = (
        d.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per_term = post.groupBy("term").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    gaps, vbytes = _varbyte_gaps()
    return (
        per_term.select("term", F.size("ids").cast("long").alias("df"), gaps.alias("gaps"))
        .select(
            "term",
            "df",
            vbytes.alias("encoded_bytes"),
            F.round(vbytes.cast("double") / F.col("df"), 6).alias(
                "bytes_per_posting"
            ),
        )
        .orderBy("term")
    )


QL_MU = 2000.0  # Dirichlet prior (Zhai & Lafferty 2001's standard mu)


def query_likelihood_topk(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 15,
    mu: float = QL_MU,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty
    2001) — the language-modeling counterpart to BM25, the second
    classical top-k scorer every IR stack ships. score(d) =
    sum_t ln((tf + mu*P(t|C)) / (dl + mu)), decomposed into the
    match-only form so only postings of the query terms are touched:
    const_q - |q|*ln(dl + mu) + sum_{tf>0} ln(1 + tf/(mu*P(t|C))).
    Query terms absent from the corpus (cf = 0) are dropped — their
    smoothed probability is undefined — and |q| counts the kept terms.

    Scale shape: identical to the BM25 corpus path — the tf agg is
    filtered to the query terms BEFORE the shuffle (postings of |q|
    terms, not the corpus), cf/total/const_q are one tiny broadcast
    frame each, and the candidate set is docs matching >=1 term. The
    score is one fixed-shape double expression of integer inputs
    (tf, doclen, cf, total_tokens), mirrored token-for-token in the
    oracle, so both engines rank identically; round(6) at emit only.
    Ref analog: the reference serves ranked search through ES's scorer
    (extractor/loader.go:239-379); this is the LM alternative over the
    same statistics the index already maintains."""
    d = t["documents"]
    tokf = d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    dl = tokf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    tot = dl.agg(F.sum("doclen").alias("total_tokens"))
    qtok = tokf.where(F.col("term").isin(list(terms)))
    cf = (
        qtok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "p_mu",
            F.lit(mu)
            * (
                F.col("cf").cast("double")
                / F.col("total_tokens").cast("double")
            ),
        )
    )
    constq = cf.agg(
        F.sum(F.log(F.col("p_mu"))).alias("const_q"),
        F.count(F.lit(1)).alias("nq"),
    )
    matched = (
        qtok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(cf.select("term", "p_mu")), "term")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    F.lit(1.0) + F.col("tf").cast("double") / F.col("p_mu")
                )
            ).alias("match_part")
        )
    )
    score = (
        F.col("const_q")
        - F.col("nq").cast("double")
        * F.log(F.col("doclen").cast("double") + F.lit(mu))
        + F.col("match_part")
    )
    return (
        matched.join(dl, "doc_id")
        .crossJoin(F.broadcast(constq))
        .select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


CHAMPION_M = 5  # champion-list depth


def champion_lists(
    spark: SparkSession, t, m: int = CHAMPION_M
) -> DataFrame:
    """Champion lists (Manning/Raghavan/Schuetze IR ch.7, a.k.a. Fagin
    top-doc lists): for every term, the m docs with the highest tf
    (doc_id tie-break) precomputed at index time — the classic
    early-termination sidecar that answers single-term and lazy-union
    queries without touching the full posting list. Emitted as
    (term, df, champion doc ids, their tfs), lists serialized to
    strings per the repo's canon convention (parity.py:155).

    Scale shape: the tf agg is map-side combined; the rank window
    partitions BY TERM (parallel per key, heap state bounded by the
    posting list — the same per-key shape every WAND shard heap uses);
    the surviving m rows per term collapse in one final term agg.
    At 10^12 docs the output is |vocab| * m rows — index-metadata
    sized, exactly what block-max metadata storage already holds
    (functions/wand.py block maxes)."""
    d = t["documents"]
    tf = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    top = tf.withColumn("rk", F.row_number().over(w))
    per_term = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    champs = (
        top.where(F.col("rk") <= m)
        .groupBy("term")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rk", "doc_id", "tf"))
            ).alias("s")
        )
        .select(
            "term",
            F.concat_ws(
                ",", F.transform("s", lambda x: x["doc_id"].cast("string"))
            ).alias("champion_ids"),
            F.concat_ws(
                ",", F.transform("s", lambda x: x["tf"].cast("string"))
            ).alias("champion_tfs"),
        )
    )
    return (
        per_term.join(champs, "term")
        .select("term", F.col("df").cast("long").alias("df"),
                "champion_ids", "champion_tfs")
        .orderBy("term")
    )


def docid_remap_gap_bytes(spark: SparkSession, t) -> DataFrame:
    """Doc-id reassignment for postings compression (Silvestri ECIR'07,
    "Sorting out the document identifier assignment problem"): cluster
    similar documents into adjacent ids — Silvestri sorts by URL; here
    the cluster key is (source, lang), the domain-prefix analog this
    corpus carries — and measure total varbyte postings bytes under the
    original vs the remapped assignment. Similar docs share vocabulary,
    so clustering shrinks the doc-id gaps inside each posting list and
    the varbyte coding pays. One summary row: bytes before/after and
    the ratio — the go/no-go number for an index-layout migration.

    Scale shape: the remapped rank is NOT a global window — it is the
    distributed-rank decomposition ingest.py::dedup_and_assign_doc_ids
    ships in production: a rank window partitioned by the cluster key
    (at CC scale source=domain -> bounded partitions) plus an exclusive
    prefix-sum of per-group counts over the group frame (|domains|
    rows, reduced scale). Gap/byte math reuses the JVM array-HOF kernel
    of postings_size_estimate; the two byte sums are map-side-combined
    final aggs. Oracle equivalence: offset + local rank ==
    row_number() OVER (ORDER BY source, lang, doc_id) - 1, which is
    what the DuckDB twin computes directly."""
    d = t["documents"]
    grp_w = Window.partitionBy("source", "lang").orderBy("doc_id")
    grps = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    off_w = (
        Window.orderBy("source", "lang")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = grps.select(
        "source", "lang",
        F.coalesce(F.sum("cnt").over(off_w), F.lit(0)).alias("off"),
    )
    remap = (
        d.select("source", "lang", "doc_id")
        .withColumn("lrk", F.row_number().over(grp_w) - 1)
        .join(F.broadcast(offs), ["source", "lang"])
        .select("doc_id", (F.col("off") + F.col("lrk")).alias("new_id"))
    )
    post = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(remap), "doc_id")
    )
    gaps, vbytes = _varbyte_gaps()

    def total(ids_col: str, alias: str) -> DataFrame:
        return (
            post.groupBy("term")
            .agg(F.sort_array(F.collect_list(ids_col)).alias("ids"))
            .select(gaps.alias("gaps"))
            .select(vbytes.alias("b"))
            .agg(F.sum("b").cast("long").alias(alias))
        )

    orig = total("doc_id", "orig_bytes")
    new = total("new_id", "remap_bytes")
    n_post = post.agg(F.count(F.lit(1)).cast("long").alias("n_postings"))
    return (
        n_post.crossJoin(orig)
        .crossJoin(new)
        .select(
            "n_postings",
            "orig_bytes",
            "remap_bytes",
            F.round(
                F.col("remap_bytes").cast("double")
                / F.col("orig_bytes").cast("double"),
                6,
            ).alias("bytes_ratio"),
        )
    )


def sibling_bucket_aggs(spark: SparkSession, t) -> DataFrame:
    """ES sibling pipeline aggregations ``avg_bucket`` / ``min_bucket``
    / ``max_bucket`` / ``sum_bucket`` in one pass: the four scalar
    reductions OF A SIBLING METRIC ACROSS BUCKETS — here the daily
    event count over the events date-histogram (the dashboards row
    "avg/min/max/total events per day"). Completes the pipeline-agg
    family next to stats_bucket / extended_stats_bucket /
    percentiles_bucket / moving_fn / derivative / cumulative_sum.

    Scale shape: the heavy lifting is ONE map-side-combined count per
    day; the four reductions then run over the reduced ~|days| bucket
    frame. Sums emitted as BIGINT on both engines (the canon-compat
    contract; DuckDB sum(BIGINT) is HUGEINT without the cast)."""
    e = t["events"]
    hist = (
        e.groupBy(F.date_trunc("day", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return hist.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.round(F.avg(F.col("n_events").cast("double")), 6).alias(
            "avg_bucket"
        ),
        F.min("n_events").cast("long").alias("min_bucket"),
        F.max("n_events").cast("long").alias("max_bucket"),
        F.sum("n_events").cast("long").alias("sum_bucket"),
    )


BM25_PLUS_DELTA = 0.5  # Lv & Zhai's lower bound; 0.5 for the repo kernel


def bm25_plus_topk(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 15,
    delta: float = BM25_PLUS_DELTA,
) -> DataFrame:
    """BM25+ ranking (Lv & Zhai CIKM'11, "Lower-bounding term frequency
    normalization"): the repo's BM25 kernel (k1=1.2, b=0.75, the exact
    idf/norm shape of oracles.bm25_sql / functions/wand.py) with the
    per-matched-term lower bound delta added INSIDE the idf product —
    score = sum_t idf_t * (tf_norm + delta). Fixes BM25's over-penalty
    of long documents: a long doc matching a term can never score below
    idf*delta for it, so one-occurrence-in-a-long-doc still beats
    no-occurrence. Completes the scorer family next to bm25 (corpus +
    WAND), BM25F (combined_fields), and query_likelihood.

    Scale shape: identical to the BM25 corpus path — postings filtered
    to the query terms pre-shuffle, df/avgdl broadcast scalars, one
    per-doc sum, TakeOrdered top-k. Same fixed-shape double-expression
    determinism argument as tfidf_keywords."""
    d = t["documents"]
    tokf = d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    dl = tokf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("doclen").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    tf = (
        tokf.where(F.col("term").isin(list(terms)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
    ) * (
        F.col("tf")
        / (
            F.col("tf")
            + 1.2 * (0.25 + 0.75 * F.col("doclen") / F.col("avgdl"))
        )
        + F.lit(delta)
    )
    return (
        tf.join(F.broadcast(dfs), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


INTERSECT_TOP_TERMS = 10  # analyze the heaviest terms' pairwise overlap


def intersect_estimate(
    spark: SparkSession, t, n_terms: int = INTERSECT_TOP_TERMS
) -> DataFrame:
    """Boolean-AND result-size estimation audit: for every pair of the
    top-``n_terms`` terms by df, the ACTUAL postings-intersection size
    next to the System-R independence estimate df_a*df_b/N — the
    selectivity model every conjunctive query planner (and WAND's
    candidate-budget heuristic) starts from, and err_ratio =
    actual/estimate is exactly the correlation factor that tells the
    planner where independence lies (correlated terms co-occur far
    above the estimate).

    Scale shape: postings are filtered to the analyzed terms BEFORE the
    self-join (n_terms * df rows, not the corpus), the join key is
    doc_id (co-occurring pairs bounded by n_terms^2 per doc), and the
    pair agg is map-side combined. The term pick itself is a df agg +
    top-n; output is n_terms-choose-2 rows at any corpus size."""
    d = t["documents"]
    post = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "doc_id")
    )
    dfs = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    top = (
        dfs.orderBy(F.desc("df"), "term")
        .limit(n_terms)
        .select("term", "df")
    )
    p = post.join(F.broadcast(top.select("term")), "term")
    pairs = (
        p.alias("a")
        .join(p.alias("b"), "doc_id")
        .where(F.col("a.term") < F.col("b.term"))
        .groupBy(
            F.col("a.term").alias("term_a"),
            F.col("b.term").alias("term_b"),
        )
        .agg(F.count(F.lit(1)).alias("actual"))
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    ta = top.select(
        F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    tb = top.select(
        F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    est = (
        F.col("df_a").cast("double")
        * F.col("df_b").cast("double")
        / F.col("n_docs").cast("double")
    )
    return (
        ta.crossJoin(tb)
        .where(F.col("term_a") < F.col("term_b"))
        .join(pairs, ["term_a", "term_b"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            F.col("df_a").cast("long").alias("df_a"),
            F.col("df_b").cast("long").alias("df_b"),
            F.coalesce("actual", F.lit(0)).cast("long").alias("actual"),
            F.round(est, 6).alias("est_independent"),
            F.round(
                F.coalesce("actual", F.lit(0)).cast("double") / est, 6
            ).alias("err_ratio"),
        )
        .orderBy("term_a", "term_b")
    )


PRUNE_LAMBDA = 0.75  # keep postings scoring >= lambda * term top score


def static_prune_audit(
    spark: SparkSession, t, lam: float = PRUNE_LAMBDA
) -> DataFrame:
    """Static index pruning audit (Carmel et al. SIGIR'01, top-k
    answer-preserving pruning): score every posting with the repo's
    BM25 kernel (the per-term partial an index stores next to block
    maxes) and count how many survive the keep rule
    score >= lambda * top_score(term) — per-term kept/df/kept_ratio is
    the size-vs-fidelity curve an index-pruning migration is decided
    on. Pruning trades disk for recall; this op is the measurement.

    Scale shape: one postings agg, the per-posting score is a map-side
    double expression (stats broadcast), the per-term max is a
    map-side-combined agg joined back (vocabulary-sized, broadcast),
    and the kept-count is a second combined agg — no windows, no
    per-doc state. Determinism: both the score and lambda*max are
    fixed-shape doubles of integer inputs, bit-equal across engines,
    so the >= comparison decides identically."""
    d = t["documents"]
    tokf = d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    dl = tokf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("doclen").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    tf = tokf.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
    ) * (
        F.col("tf")
        / (
            F.col("tf")
            + 1.2 * (0.25 + 0.75 * F.col("doclen") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfs), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("term", score.alias("s"))
    )
    smax = scored.groupBy("term").agg(F.max("s").alias("smax"))
    return (
        scored.join(F.broadcast(smax), "term")
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum(
                F.when(
                    F.col("s") >= F.lit(lam) * F.col("smax"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("kept"),
        )
        .select(
            "term",
            "df",
            "kept",
            F.round(
                F.col("kept").cast("double") / F.col("df").cast("double"),
                6,
            ).alias("kept_ratio"),
        )
        .orderBy("term")
    )


PASSAGE_W = 20  # best-passage window, in tokens


def best_passage(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    w: int = PASSAGE_W,
    k: int = 10,
) -> DataFrame:
    """Best-passage extraction — the fragment selector behind every
    highlighter/snippet API (ES unified highlighter, and the passage
    stage of retrieve-then-read RAG): per doc, the ``w``-token window
    covering the most DISTINCT query terms, earliest window on ties.
    Only windows starting AT a query-term position need checking (a
    shifted-left window never covers more), so the candidate set per
    doc is its query-term positions, not its length. Emits the top-k
    docs by (covered terms desc, doc_id) with the winning offset and
    the serialized window text.

    Scale shape: ENTIRELY map-side — the whole window search runs
    inside JVM array HOFs on each doc's own token array (no Python, no
    shuffle, no window function); the only distributed ops are the
    final TakeOrdered(k). This is the shape a 10^12-doc highlight pass
    must have: per-doc work bounded by occurrences x occurrences, zero
    cross-doc state."""
    inlist = ", ".join("'" + x.replace("'", "''") + "'" for x in terms)
    d = t["documents"].select(
        "doc_id", tokens_col("text").alias("toks")
    )
    qpos = F.expr(
        f"""filter(sequence(1, size(toks)),
                   i -> array_contains(array({inlist}), toks[i - 1]))"""
    )
    # per candidate start s: distinct query terms in toks[s .. s+w-1]
    best = F.expr(
        f"""array_min(transform(qpos, s ->
             struct(
               -size(array_distinct(transform(
                  filter(qpos, p -> p >= s AND p < s + {w}),
                  p -> toks[p - 1]))) AS neg_n,
               s AS start)))"""
    )
    out = (
        d.select("doc_id", "toks", qpos.alias("qpos"))
        .where(F.size("qpos") > 0)
        .select("doc_id", "toks", best.alias("b"))
        .select(
            "doc_id",
            (-F.col("b.neg_n")).cast("long").alias("n_terms"),
            F.col("b.start").cast("long").alias("start"),
            F.concat_ws(
                " ",
                F.expr(f"slice(toks, b.start, {w})"),
            ).alias("passage"),
        )
    )
    return (
        out.orderBy(F.desc("n_terms"), "doc_id")
        .limit(k)
        .select("doc_id", "n_terms", "start", "passage")
    )


RBO_P = 0.9  # rank-biased overlap persistence


def rank_correlation(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 20,
) -> DataFrame:
    """Ranker-agreement eval: Kendall's tau-b style concordance (over
    the docs BOTH rankers retrieve) and Rank-Biased Overlap (Webber et
    al. TOIS'10, truncated prefix form, p=0.9) between the BM25 and
    the Dirichlet query-likelihood top-k for the same query — the
    standard pair of numbers for "does the new scorer agree with the
    old one" before an A/B. BM25 side reuses bm25_plus_topk with
    delta=0 (== the repo kernel exactly).

    Scale shape: both rankers keep their own (already-audited) plans;
    everything downstream runs over two k-row frames — the rank
    windows, the pair self-join (k^2), and the depth sequence are all
    post-limit, the accepted reduced-frame pattern (query.py:531).
    Ranks are taken over the rounded emitted scores (doc_id
    tie-break), identical on both engines by construction."""
    a = bm25_plus_topk(spark, t, terms, k, delta=0.0)
    b = query_likelihood_topk(spark, t, terms, k)
    wa = Window.orderBy(F.desc("score"), "doc_id")
    ra = a.select("doc_id", F.row_number().over(wa).alias("ra"))
    rb = b.select("doc_id", F.row_number().over(wa).alias("rb"))
    common = ra.join(rb, "doc_id")
    pairs = (
        common.alias("x")
        .join(common.alias("y"), F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            (
                (F.col("x.ra") - F.col("y.ra"))
                * (F.col("x.rb") - F.col("y.rb"))
                > 0
            )
            .cast("int")
            .alias("conc")
        )
    )
    tau = pairs.agg(
        F.coalesce(
            F.round(
                (F.sum("conc") * 2 - F.count(F.lit(1)))
                .cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ),
            F.lit(0.0),
        ).alias("kendall_tau")
    )
    depths = spark.range(1, k + 1).select(
        F.col("id").cast("int").alias("d")
    )
    ov = (
        depths.join(
            common,
            F.greatest(F.col("ra"), F.col("rb")) <= F.col("d"),
            "left",
        )
        .groupBy("d")
        .agg(F.count("doc_id").alias("ov"))
    )
    rbo = ov.agg(
        F.round(
            F.lit(1.0 - RBO_P)
            * F.sum(
                F.col("ov").cast("double")
                / F.col("d")
                * F.pow(F.lit(RBO_P), F.col("d") - 1)
            ),
            6,
        ).alias("rbo")
    )
    n_common = common.agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    return n_common.crossJoin(tau).crossJoin(rbo)


ENTROPY_LOW_BITS = 3.0  # below this, text is repetition/gibberish-like


def char_entropy(spark: SparkSession, t) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (in
    bits) — the compression-ratio quality proxy web pipelines use to
    flag binary junk, encoding garbage, and pathological repetition
    (low entropy = few distinct symbols dominate; CCNet/Gopher-era
    cleaning stacks all carry a variant). Emits the entropy, the
    distinct-symbol count, and a low_entropy flag at
    ``ENTROPY_LOW_BITS``.

    Determinism: the per-doc fold runs over the CHARACTER-SORTED
    (symbol, count) list — sort_array + sequential aggregate in Spark,
    list(... ORDER BY ch) + list_reduce in DuckDB — so the float sum
    order is pinned on both engines (the rocchio/textrank fold
    discipline). log2 is spelled ln(p)/ln(2.0) identically on both.

    Scale shape: one explode + two combined aggs; per-doc state is the
    doc's own alphabet (<= a few hundred symbols at any corpus size —
    bounded, unlike token vocab)."""
    d = t["documents"]
    ch = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", ""), lambda x: x != "")).alias(
            "ch"
        ),
    )
    per = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    ent = F.expr(
        """-aggregate(cl, 0D, (acc, x) ->
             acc + (x.cnt / CAST(n AS DOUBLE))
                   * (ln(x.cnt / CAST(n AS DOUBLE)) / ln(2.0D)))"""
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("ch", "cnt"))).alias("cl"),
            F.sum("cnt").alias("n"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars_counted"),
            F.size("cl").cast("long").alias("n_symbols"),
            F.round(ent, 6).alias("entropy_bits"),
            F.when(ent < ENTROPY_LOW_BITS, 1)
            .otherwise(0)
            .cast("long")
            .alias("low_entropy"),
        )
        .orderBy("doc_id")
    )


def source_kl(spark: SparkSession, t) -> DataFrame:
    """Per-source KL divergence KL(P_source || P_corpus) over term
    distributions (nats) — the domain-drift monitor of a mixture
    pipeline: a source whose language diverges from the corpus mix
    gets flagged before it skews training (the same quantity CCNet
    uses against a reference LM, here against the corpus itself, so
    it needs no model). Q covers P by construction (the corpus is a
    superset), so no smoothing is needed.

    Determinism: per-source fold over the TERM-SORTED (term, cnt,
    corpus_cnt) list — same pinned-order float discipline as
    char_entropy. Scale shape: two combined count aggs (per source+
    term, per term), one broadcast join of the term totals, and one
    per-source fold whose state is that source's vocabulary; at open-
    web vocabularies the fold becomes a two-level sorted-segment sum,
    noted not faked."""
    d = t["documents"]
    tokf = d.select(
        "source", F.explode(tokens_col("text")).alias("term")
    )
    st = tokf.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ct = tokf.groupBy("term").agg(F.count(F.lit(1)).alias("ccnt"))
    n_all = tokf.agg(F.count(F.lit(1)).alias("n_corpus"))
    kl = F.expr(
        """aggregate(cl, 0D, (acc, x) ->
             acc + (x.cnt / CAST(n_src AS DOUBLE))
                   * ln((x.cnt / CAST(n_src AS DOUBLE))
                        / (x.ccnt / CAST(n_corpus AS DOUBLE))))"""
    )
    return (
        st.join(F.broadcast(ct), "term")
        .groupBy("source")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("term", "cnt", "ccnt"))
            ).alias("cl"),
            F.sum("cnt").alias("n_src"),
        )
        .crossJoin(F.broadcast(n_all))
        .select(
            "source",
            F.col("n_src").cast("long").alias("n_tokens"),
            F.size("cl").cast("long").alias("vocab"),
            F.round(kl, 6).alias("kl_nats"),
        )
        .orderBy("source")
    )


def qpp_preretrieval(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
) -> DataFrame:
    """Pre-retrieval query-performance prediction (He & Ounis SPIRE'04
    / Zhao-Scholer-Tsegay ECIR'08 SCQ): the statistics a serving tier
    computes BEFORE running a query to predict how well it will do —
    route hopeless queries to expansion, easy ones to the cheap path.
    One row per query: SCQ_t = (1 + ln(cf)) * ln(1 + N/df) summed and
    maxed over terms, avg ICTF = mean ln(total_tokens/cf), and query
    scope = -ln(n_matching_docs / N) (He-Ounis omega; bigger = more
    selective). OOV query terms are dropped, like query_likelihood.

    Scale shape: everything reads the term-stats frame (df, cf) the
    index already maintains — |q| rows after an IN-pushed filter — plus
    ONE distinct-count for scope over postings of the query terms; no
    per-doc work at all. The per-term float fold is pinned by the
    term-sorted list discipline."""
    d = t["documents"]
    tokf = d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tot = tokf.agg(F.count(F.lit(1)).alias("total_tokens"))
    qtok = tokf.where(F.col("term").isin(list(terms)))
    ts = qtok.groupBy("term").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct("doc_id").alias("df"),
    )
    scope_n = qtok.agg(
        F.countDistinct("doc_id").alias("n_match")
    )
    scq = F.expr(
        """transform(tl, x ->
             (1.0D + ln(CAST(x.cf AS DOUBLE)))
             * ln(1.0D + CAST(n_docs AS DOUBLE) / x.df))"""
    )
    ictf = F.expr(
        """aggregate(tl, 0D, (acc, x) ->
             acc + ln(CAST(total_tokens AS DOUBLE) / x.cf))"""
    )
    folded = (
        ts.agg(
            F.sort_array(F.collect_list(F.struct("term", "cf", "df"))).alias(
                "tl"
            )
        )
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(tot))
        .select(
            F.size("tl").cast("long").alias("n_terms_kept"),
            scq.alias("scqs"),
            ictf.alias("ictf_sum"),
            "n_docs",
        )
        .select(
            "n_terms_kept",
            F.round(
                F.aggregate(
                    "scqs", F.lit(0.0), lambda acc, x: acc + x
                ),
                6,
            ).alias("scq_sum"),
            F.round(F.array_max("scqs"), 6).alias("scq_max"),
            F.round(
                F.col("ictf_sum") / F.col("n_terms_kept").cast("double"),
                6,
            ).alias("avg_ictf"),
            "n_docs",
        )
    )
    return folded.crossJoin(F.broadcast(scope_n)).select(
        "n_terms_kept",
        "scq_sum",
        "scq_max",
        "avg_ictf",
        F.round(
            -F.log(
                F.col("n_match").cast("double")
                / F.col("n_docs").cast("double")
            ),
            6,
        ).alias("query_scope"),
    )


FRONT_CODE_BLOCK = 16  # Lucene-style restart interval


def front_coding_audit(
    spark: SparkSession, t, block: int = FRONT_CODE_BLOCK
) -> DataFrame:
    """Term-dictionary front-coding size audit (the prefix compression
    Lucene's BlockTree term dictionary ships; Witten/Moffat/Bell
    "Managing Gigabytes" §4): sorted terms share prefixes with their
    predecessors, so each non-restart entry stores (lcp byte, suffix
    len byte, suffix bytes) while every ``block``-th term restarts raw
    (1 length byte + full bytes, the binary-search anchor). One row:
    raw vs front-coded dictionary bytes and the ratio — the companion
    planning number to postings_size_estimate, sizing the OTHER half
    of the index.

    Scale shape: the term dictionary is the REDUCED vocabulary frame
    (the accepted textstats window scale); lag + row_number run over
    one term-sorted window and the lcp is a per-row bounded JVM fold
    over min(len) characters. Exact integer byte math throughout."""
    d = t["documents"]
    vocab = (
        d.select(F.explode(tokens_col("text")).alias("term")).distinct()
    )
    w = Window.orderBy("term")
    lcp = F.expr(
        """CASE WHEN prev IS NULL THEN 0 ELSE
             aggregate(sequence(1, least(length(prev), length(term))),
                       0, (acc, i) ->
                 IF(acc = i - 1
                    AND substring(prev, i, 1) = substring(term, i, 1),
                    i, acc))
           END"""
    )
    coded = (
        vocab.select(
            "term",
            F.lag("term").over(w).alias("prev"),
            F.row_number().over(w).alias("rn"),
        )
        .select(
            "term",
            lcp.alias("lcp"),
            ((F.col("rn") - 1) % block == 0).alias("restart"),
        )
        .select(
            F.length("term").alias("tl"),
            F.when(F.col("restart"), F.length("term") + 1)
            .otherwise(F.length("term") - F.col("lcp") + 2)
            .alias("fb"),
        )
    )
    return coded.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.col("tl") + 1).cast("long").alias("raw_bytes"),
        F.sum("fb").cast("long").alias("front_bytes"),
        F.round(
            F.sum("fb").cast("double")
            / F.sum(F.col("tl") + 1).cast("double"),
            6,
        ).alias("bytes_ratio"),
    )


COMB_K = 10


def combsum_hybrid(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = COMB_K,
) -> DataFrame:
    """CombSUM / CombMNZ rank fusion (Fox & Shaw TREC-2 '94) — the
    third classical fusion next to RRF and linear: min-max normalize
    each ranker's top-20 scores to [0,1], CombSUM = sum of normalized
    scores (missing list -> 0), CombMNZ = CombSUM * number of lists
    that retrieved the doc (rewards consensus). Fuses the BM25 kernel
    (bm25_plus delta=0) with Dirichlet QL, like rank_correlation.

    Scale shape: each ranker keeps its audited plan; the min-max
    scalars, the outer join, and the fused top-k all run over two
    k-row frames (post-limit reduced-frame pattern). Normalization
    divides rounded-6 scores by rounded-score ranges — identical
    doubles on both engines."""
    a = bm25_plus_topk(spark, t, terms, 20, delta=0.0)
    b = query_likelihood_topk(spark, t, terms, 20)

    def norm(df: DataFrame, alias: str) -> DataFrame:
        mm = df.agg(
            F.min("score").alias("mn"), F.max("score").alias("mx")
        )
        return df.crossJoin(F.broadcast(mm)).select(
            "doc_id",
            F.when(F.col("mx") == F.col("mn"), F.lit(1.0))
            .otherwise(
                (F.col("score") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
            )
            .alias(alias),
        )
    na, nb = norm(a, "sa"), norm(b, "sb")
    fused = (
        na.join(nb, "doc_id", "full")
        .select(
            "doc_id",
            (F.coalesce("sa", F.lit(0.0)) + F.coalesce("sb", F.lit(0.0)))
            .alias("combsum"),
            (
                F.col("sa").isNotNull().cast("int")
                + F.col("sb").isNotNull().cast("int")
            ).alias("nz"),
        )
        .select(
            "doc_id",
            "combsum",
            (F.col("combsum") * F.col("nz").cast("double")).alias(
                "combmnz"
            ),
            F.col("nz").cast("long").alias("n_lists"),
        )
    )
    return (
        fused.orderBy(F.desc("combmnz"), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            F.round("combsum", 6).alias("combsum"),
            F.round("combmnz", 6).alias("combmnz"),
            "n_lists",
        )
    )



QUANT_BITS = 255  # 8-bit impact quantization ceiling


def quantize_fidelity(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 20,
) -> DataFrame:
    """Impact-quantization fidelity audit (Anh & Moffat SIGIR'06
    quantized impacts; the storage layout of JASS/IOQP anytime
    ranking): linearly quantize each query-term posting's BM25 partial
    to 8 bits against the global max partial, rank top-k by summed
    INTEGER impacts, and report agreement with the exact-score top-k
    — overlap@k plus Spearman footrule over the common docs. This is
    the go/no-go measurement for shipping an impact-ordered index: it
    answers "how much ranking do we lose for 8-bit postings".

    Scale shape: the exact scorer's audited plan (postings filtered
    to query terms pre-shuffle) plus one broadcast global-max scalar;
    quantization is a map-side floor(); both top-k frames and the
    comparison run post-limit at k rows. The integer impact sums are
    exact on both engines; floor of the same fixed-shape double ties
    out bit-for-bit."""
    scored = (
        _bm25_frame(t["documents"], terms)
        .scored.select("doc_id", _bm25_weight().alias("s"))
    )
    smax = scored.agg(F.max("s").alias("smax"))
    both = (
        scored.crossJoin(F.broadcast(smax))
        .select(
            "doc_id",
            "s",
            F.floor(
                F.col("s") / F.col("smax") * F.lit(float(QUANT_BITS))
            )
            .cast("long")
            .alias("q"),
        )
        .groupBy("doc_id")
        .agg(F.sum("s").alias("es"), F.sum("q").alias("qs"))
    )
    exact = (
        both.orderBy(F.desc("es"), "doc_id")
        .limit(k)
        .withColumn(
            "re",
            F.row_number().over(Window.orderBy(F.desc("es"), "doc_id")),
        )
        .select("doc_id", "re")
    )
    quant = (
        both.orderBy(F.desc("qs"), "doc_id")
        .limit(k)
        .withColumn(
            "rq",
            F.row_number().over(Window.orderBy(F.desc("qs"), "doc_id")),
        )
        .select("doc_id", "rq")
    )
    j = exact.join(quant, "doc_id")
    return (
        j.agg(
            F.count(F.lit(1)).cast("long").alias("overlap_at_k"),
            F.coalesce(
                F.sum(F.abs(F.col("re") - F.col("rq"))), F.lit(0)
            )
            .cast("long")
            .alias("footrule"),
        )
        .select(
            F.lit(k).cast("long").alias("k"),
            "overlap_at_k",
            "footrule",
        )
    )


SHARD_N = 4


def shard_idf_drift(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 20,
    n_shards: int = SHARD_N,
) -> DataFrame:
    """Distributed-scoring drift audit — the measurable difference
    between ES ``query_then_fetch`` (each shard scores with its OWN
    df/N/avgdl) and ``dfs_query_then_fetch`` (one global-stats
    pre-pass): score the corpus both ways (shard = doc_id %
    ``n_shards``, the index's doc-sharding function), take each top-k,
    and report overlap@k + the max relative score error among common
    docs. The number that decides whether an index can skip the DFS
    round-trip (ES's default says yes for big uniform shards; this op
    verifies it for THIS corpus).

    Scale shape: the local-stats pass reuses the same postings frame
    with shard-grouped (map-side combined) stats aggs — no extra scan;
    all comparison math is post-limit over k rows."""
    d = t["documents"]
    tokf = d.select(
        "doc_id",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.explode(tokens_col("text")).alias("term"),
    )
    dl = tokf.groupBy("doc_id", "shard").agg(
        F.count(F.lit(1)).alias("doclen")
    )
    gstats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("doclen").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    lstats = dl.groupBy("shard").agg(
        F.count(F.lit(1)).alias("l_n_docs"),
        (
            F.sum("doclen").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("l_avgdl"),
    )
    tf = (
        tokf.where(F.col("term").isin(list(terms)))
        .groupBy("doc_id", "shard", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    gdf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ldf = tf.groupBy("shard", "term").agg(
        F.count(F.lit(1)).alias("l_df")
    )

    def kernel(nd, dfc, dlc, ad):
        return F.log(
            F.lit(1.0)
            + (nd.cast("double") - dfc + 0.5) / (dfc + 0.5)
        ) * (
            F.col("tf")
            / (F.col("tf") + 1.2 * (0.25 + 0.75 * dlc / ad))
        )

    gscore = (
        tf.join(F.broadcast(gdf), "term")
        .join(dl.select("doc_id", "doclen"), "doc_id")
        .crossJoin(F.broadcast(gstats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                kernel(
                    F.col("n_docs"),
                    F.col("df"),
                    F.col("doclen"),
                    F.col("avgdl"),
                )
            ).alias("gs")
        )
    )
    lscore = (
        tf.join(F.broadcast(ldf), ["shard", "term"])
        .join(dl.select("doc_id", "doclen"), "doc_id")
        .join(F.broadcast(lstats), "shard")
        .groupBy("doc_id")
        .agg(
            F.sum(
                kernel(
                    F.col("l_n_docs"),
                    F.col("l_df"),
                    F.col("doclen"),
                    F.col("l_avgdl"),
                )
            ).alias("ls")
        )
    )
    gtop = (
        gscore.orderBy(F.desc("gs"), "doc_id")
        .limit(k)
        .select("doc_id", "gs")
    )
    ltop = (
        lscore.orderBy(F.desc("ls"), "doc_id")
        .limit(k)
        .select("doc_id", "ls")
    )
    j = gtop.join(ltop, "doc_id")
    return j.agg(
        F.lit(k).cast("long").alias("k"),
        F.lit(n_shards).cast("long").alias("n_shards"),
        F.count(F.lit(1)).cast("long").alias("overlap_at_k"),
        F.round(
            F.coalesce(
                F.max(
                    F.abs(F.col("ls") - F.col("gs")) / F.col("gs")
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("max_rel_err"),
    )


LLR_TOP = 20


def collocations_llr(
    spark: SparkSession, t, k: int = LLR_TOP
) -> DataFrame:
    """Collocation extraction by Dunning's log-likelihood ratio
    (Dunning CL'93, the G^2 statistic; the standard replacement for
    PMI when counts are small): for every adjacent bigram, G^2 = 2 *
    (xlx(k11)+xlx(k12)+xlx(k21)+xlx(k22)+xlx(N)-xlx(row1)-xlx(row2)
    -xlx(col1)-xlx(col2)) over the 2x2 contingency of (first word,
    second word) — emitted top-k by (llr desc, bigram). Collocations
    feed phrase dictionaries, shingle selection, and tokenizer merges.

    Scale shape: the bigram frame comes from the shifted-self zip (the
    bigram-LM precedent, map-side), marginals are two combined aggs
    broadcast back, and G^2 is ONE fixed-shape double expression of
    integer counts — explicit term-by-term additions, no float agg, so
    both engines compute bit-equal statistics."""
    d = t["documents"]
    big = (
        d.select(tokens_col("text").alias("ts"))
        .select(
            F.explode(
                F.expr(
                    """CASE WHEN size(ts) >= 2 THEN
                         transform(sequence(0, size(ts) - 2),
                           i -> struct(ts[i] AS a, ts[i + 1] AS b))
                       ELSE array() END"""
                )
            ).alias("bg")
        )
        .select("bg.a", "bg.b")
    )
    k11 = big.groupBy("a", "b").agg(F.count(F.lit(1)).alias("k11"))
    rowc = big.groupBy("a").agg(F.count(F.lit(1)).alias("row1"))
    colc = big.groupBy("b").agg(F.count(F.lit(1)).alias("col1"))
    n = big.agg(F.count(F.lit(1)).alias("nn"))
    j = (
        k11.join(F.broadcast(rowc), "a")
        .join(F.broadcast(colc), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            "k11",
            (F.col("row1") - F.col("k11")).alias("k12"),
            (F.col("col1") - F.col("k11")).alias("k21"),
            (
                F.col("nn") - F.col("row1") - F.col("col1")
                + F.col("k11")
            ).alias("k22"),
            "row1",
            "col1",
            "nn",
        )
    )

    def xlx(col):
        return F.when(
            col > 0, col.cast("double") * F.log(col.cast("double"))
        ).otherwise(F.lit(0.0))

    llr = F.lit(2.0) * (
        xlx(F.col("k11"))
        + xlx(F.col("k12"))
        + xlx(F.col("k21"))
        + xlx(F.col("k22"))
        + xlx(F.col("nn"))
        - xlx(F.col("row1"))
        - xlx(F.col("nn") - F.col("row1"))
        - xlx(F.col("col1"))
        - xlx(F.col("nn") - F.col("col1"))
    )
    return (
        j.select("a", "b", F.col("k11").cast("long").alias("n_bigram"),
                 llr.alias("llr"))
        .orderBy(F.desc("llr"), "a", "b")
        .limit(k)
        .select("a", "b", "n_bigram", F.round("llr", 6).alias("llr"))
    )


# ------------------------------------------------- similarity modules
# ES exposes pluggable per-field similarities beyond BM25 (the
# reference's index is served through ES scoring,
# extractor/loader.go:239-379): LM Jelinek-Mercer, DFI, and the
# multi-field BM25F shape below complete the classical scorer family
# next to bm25_topk / query_likelihood_topk (Dirichlet).

JM_LAMBDA = 0.7  # Zhai & Lafferty 2001's long-query setting


def lm_jelinek_mercer_topk(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 15,
    lam: float = JM_LAMBDA,
) -> DataFrame:
    """LM ranking with Jelinek-Mercer smoothing (Zhai & Lafferty 2001;
    Lucene's ``LMJelinekMercerSimilarity``, an ES `similarity` module
    option): per matched term the contribution is
    ``ln(1 + ((1-lambda) * tf/dl) / (lambda * P(t|C)))`` with
    ``P(t|C) = cf/total_tokens`` — already the match-only form (absent
    terms contribute ln(1) = 0), so only postings of the query terms
    are ever touched.

    Scale shape: identical to query_likelihood_topk — the tf agg is
    filtered to |q| terms BEFORE the shuffle, cf/total are one tiny
    broadcast frame, and the score is one fixed-shape double
    expression of integer inputs mirrored token-for-token in the
    oracle; round(6) at emit only."""
    d = t["documents"]
    tokf = d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    dl = tokf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    tot = dl.agg(F.sum("doclen").alias("total_tokens"))
    qtok = tokf.where(F.col("term").isin(list(terms)))
    cf = (
        qtok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            (
                F.col("cf").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("p_c"),
        )
    )
    contrib = F.log(
        F.lit(1.0)
        + (
            F.lit(1.0 - lam)
            * F.col("tf").cast("double")
            / F.col("doclen").cast("double")
        )
        / (F.lit(lam) * F.col("p_c"))
    )
    scored = (
        qtok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(cf), "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


def dfi_topk(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 15,
) -> DataFrame:
    """Divergence-From-Independence ranking (Kocabas/Dincer/Karaoglan
    IRJ'14; Lucene's ``DFISimilarity``, chi-squared measure — an ES
    `similarity` module option): expected tf under independence is
    ``e = cf * dl / total_tokens``; a term contributes
    ``ln(1 + (tf-e)^2/e) / ln(2)`` when ``tf > e`` and 0 otherwise
    (observed-at-most-chance terms carry no evidence). log2 is written
    as ln(x)/ln(2) on BOTH engines so the expression trees are
    identical libm calls.

    Scale shape: same filtered-postings plan as the LM scorers — the
    only per-doc state is (tf, doclen), cf is broadcast, one shuffle
    on doc_id."""
    d = t["documents"]
    tokf = d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    dl = tokf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    tot = dl.agg(F.sum("doclen").alias("total_tokens"))
    qtok = tokf.where(F.col("term").isin(list(terms)))
    cf = qtok.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    e = (
        F.col("cf").cast("double")
        * F.col("doclen").cast("double")
        / F.col("total_tokens").cast("double")
    )
    diff = F.col("tf").cast("double") - F.col("e")
    contrib = F.when(
        F.col("tf").cast("double") > F.col("e"),
        F.log(F.lit(1.0) + diff * diff / F.col("e"))
        / F.log(F.lit(2.0)),
    ).otherwise(F.lit(0.0))
    scored = (
        qtok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(cf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
        .withColumn("e", e)
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
    return (
        scored.where(F.col("score") > 0)
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


PL2_C = 1.0  # DFR H2 length-normalization strength
TWO_PI = 6.283185307179586  # 2*pi literal, identical on both engines


def dfr_pl2_topk(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 15,
    c: float = PL2_C,
) -> DataFrame:
    """DFR PL2 ranking (Amati & van Rijsbergen TOIS'02; Terrier's
    default model, Lucene's ``DFRSimilarity(P, L, H2)`` — an ES
    `similarity` module option): Poisson basic model with Laplace
    after-effect and H2 length normalization. Per matched term:
    ``tfn = tf * log2(1 + c * avgdl/dl)`` (H2), ``lambda = cf/N``
    (Poisson mean under randomness), and the weight is

        (tfn*ln(tfn/lambda) + (lambda - tfn) + 0.5*ln(2*pi*tfn))
        / (ln(2) * (tfn + 1))

    — the Stirling-approximated -log2 P(tf|lambda), risk-discounted
    by 1/(tfn+1) (Laplace). log2 is spelled ln(x)/ln(2) with one
    shared /ln(2) factored out, token-identically on both engines, so
    equal integer inputs give bit-equal doubles. Common terms can go
    NEGATIVE (lambda > tfn carries anti-evidence under P); Terrier
    sums them as-is and so does this.

    Scale shape: identical filtered-postings plan to
    lm_jelinek_mercer_topk / dfi_topk — postings restricted to |q|
    terms before the shuffle, (cf, N, avgdl) one broadcast row, one
    doc_id shuffle, round(6) at emit only."""
    d = t["documents"]
    tokf = d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    dl = tokf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("doclen").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    qtok = tokf.where(F.col("term").isin(list(terms)))
    cf = qtok.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    tfn = F.col("tf").cast("double") * (
        F.log(
            F.lit(1.0)
            + F.lit(c) * F.col("avgdl") / F.col("doclen").cast("double")
        )
        / F.log(F.lit(2.0))
    )
    lam = F.col("cf").cast("double") / F.col("n_docs").cast("double")
    contrib = (
        F.col("tfn") * F.log(F.col("tfn") / F.col("lam"))
        + (F.col("lam") - F.col("tfn"))
        + F.lit(0.5) * F.log(F.lit(TWO_PI) * F.col("tfn"))
    ) / (F.log(F.lit(2.0)) * (F.col("tfn") + F.lit(1.0)))
    scored = (
        qtok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(cf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("tfn", tfn)
        .withColumn("lam", lam)
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


BM25F_TITLE_LEN = 5  # synthetic title field: the first 5 tokens
BM25F_W_TITLE, BM25F_W_BODY = 2.0, 1.0  # field weights
BM25F_B = 0.75
BM25F_K1 = 1.2


def bm25f_topk(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 15,
) -> DataFrame:
    """BM25F (Robertson & Zaragoza 2009 §3.3; ES ``combined_fields``
    query is this exact model): per-field tf is length-normalized
    THEN weight-combined into a single pseudo-frequency
    ``tf~ = sum_f w_f * tf_f / (1 - b + b * len_f/avglen_f)`` which
    saturates ONCE — ``score = sum_t idf(t) * tf~ / (k1 + tf~)`` with
    document-level df. This differs from per-field BM25 + sum
    (bm25_topk_field_boost / combined_fields' naive cousin): a term in
    both fields saturates jointly instead of double-counting.

    The corpus has one text column, so the field split is synthesized
    deterministically on BOTH engines: title = first 5 tokens, body =
    the rest (every webtext pipeline derives title/body this way when
    structure is absent). avglen_f averages over ALL docs including
    zero-length bodies.

    Scale shape: two slice-explodes of the same token array (map-side,
    no extra scan), per-(doc,field) tf agg filtered to |q| terms
    before the shuffle, field stats broadcast, one final doc_id agg."""
    d = t["documents"]
    toks = d.select(
        "doc_id", tokens_col("text").alias("ts")
    ).select(
        "doc_id",
        F.slice("ts", 1, BM25F_TITLE_LEN).alias("title_ts"),
        F.expr(
            f"slice(ts, {BM25F_TITLE_LEN + 1},"
            f" greatest(size(ts) - {BM25F_TITLE_LEN}, 0))"
        ).alias("body_ts"),
    )
    lens = toks.select(
        "doc_id",
        F.size("title_ts").alias("len_title"),
        F.size("body_ts").alias("len_body"),
    )
    avgs = lens.agg(
        (
            F.sum("len_title").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_title"),
        (
            F.sum("len_body").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_body"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    fielded = toks.select(
        "doc_id", F.lit("title").alias("field"),
        F.explode("title_ts").alias("term"),
    ).unionByName(
        toks.select(
            "doc_id", F.lit("body").alias("field"),
            F.explode("body_ts").alias("term"),
        )
    ).where(F.col("term").isin(list(terms)))
    tf = fielded.groupBy("doc_id", "field", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfs = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    w_f = F.when(
        F.col("field") == "title", F.lit(BM25F_W_TITLE)
    ).otherwise(F.lit(BM25F_W_BODY))
    len_f = F.when(
        F.col("field") == "title", F.col("len_title")
    ).otherwise(F.col("len_body")).cast("double")
    avg_f = F.when(
        F.col("field") == "title", F.col("avg_title")
    ).otherwise(F.col("avg_body"))
    norm_tf = (
        w_f
        * F.col("tf").cast("double")
        / (
            F.lit(1.0 - BM25F_B)
            + F.lit(BM25F_B) * len_f / avg_f
        )
    )
    pseudo = (
        tf.join(lens, "doc_id")
        .crossJoin(F.broadcast(avgs))
        .groupBy("doc_id", "term", "n_docs")
        .agg(F.sum(norm_tf).alias("tft"))
    )
    idf = F.log(
        F.lit(1.0)
        + (
            F.col("n_docs").cast("double")
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    scored = (
        pseudo.join(F.broadcast(dfs), "term")
        .groupBy("doc_id")
        .agg(
            F.sum(
                idf
                * F.col("tft")
                / (F.lit(BM25F_K1) + F.col("tft"))
            ).alias("score")
        )
    )
    return (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


# --------------------------------------------------- KMV / merge plan

KMV_K = 16  # sketch size; estimator error ~ 1/sqrt(k-2)


def kmv_distinct(spark: SparkSession, t, k: int = KMV_K) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. RANDOM'02;
    Beyer et al. SIGMOD'07 unbiased estimator) over per-source term
    vocabularies, plus a ``__merged__`` row computed by MERGING the
    per-source sketches — the property that makes KMV the
    distributed-agg workhorse (DataSketches theta, ES cardinality's
    cousin): a union's sketch is the min-k of the unioned sketches,
    so shard sketches combine without rescanning. Estimator:
    ``(k-1) * MOD / h_(k)`` when a scope holds >= k distinct hashes,
    exact count otherwise. Emits (scope, n_exact, kmv_est, rel_err) —
    n_exact is the fidelity audit column (same pattern as
    quantize_fidelity), the sketch is the scale path.

    Scale shape: (source, term) distinct is map-side partial; hashes
    come from the two-level vocab rank (no global window); per-source
    min-k is a window bounded at k rows per key; the merge step runs
    over (n_sources * k) rows only. Hash = ((token_id+1)*FP_MULT)
    % MOD — the repo's shared integer-mix constants, identical in the
    oracle."""
    d = t["documents"]
    st = (
        d.select(
            "source", F.explode(tokens_col("text")).alias("term")
        )
        .distinct()
    )
    vocab = vocab_ids(
        d.select(tokens_col("text").alias("tokens"))
    )
    hashed = st.join(vocab, "term").select(
        "source",
        (
            (F.col("token_id").cast("long") + F.lit(1))
            * F.lit(FP_MULT) % F.lit(MOD)
        ).alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h")
    sk = hashed.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )
    merged = (
        sk.select(F.lit("__merged__").alias("source"), "h")
        .distinct()  # a KMV sketch is a SET: shared terms across
        # sources hash identically and must collapse before re-ranking
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy("h")
            ),
        )
        .where(F.col("rk") <= k)
    )
    both = sk.select("source", "h", "rk").unionByName(merged)
    est = both.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_min"),
        F.max(F.when(F.col("rk") == k, F.col("h"))).alias("hk"),
    ).select(
        "source",
        F.when(
            F.col("n_min") >= k,
            F.lit(float(k - 1)) * F.lit(float(MOD))
            / F.col("hk").cast("double"),
        )
        .otherwise(F.col("n_min").cast("double"))
        .alias("kmv_est"),
    )
    exact = st.groupBy("source").agg(
        F.countDistinct("term").alias("n_exact")
    )
    exact_all = exact.unionByName(
        st.agg(
            F.lit("__merged__").alias("source"),
            F.countDistinct("term").alias("n_exact"),
        ).select("source", "n_exact")
    )
    return (
        est.join(exact_all, "source")
        .select(
            "source",
            "n_exact",
            F.round("kmv_est", 6).alias("kmv_est"),
            F.round(
                F.abs(
                    F.col("kmv_est") - F.col("n_exact").cast("double")
                )
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


MERGE_FACTOR = 10  # Lucene LogMergePolicy mergeFactor default
FLUSH_DOCS = 50  # synthetic flush size: one segment per 50 doc ids


def merge_policy_plan(
    spark: SparkSession,
    t,
    merge_factor: int = MERGE_FACTOR,
    flush_docs: int = FLUSH_DOCS,
) -> DataFrame:
    """Lucene ``LogByteSizeMergePolicy`` planning pass over synthetic
    flush segments (segment = floor(doc_id/flush_docs), size = its
    n_chars sum — the arrival-order flush stream an indexer produces):
    each segment's level is ``floor(ln(bytes)/ln(mergeFactor))``;
    within a level, segments are windowed in ARRIVAL order into groups
    of mergeFactor, and only FULL groups merge (Lucene merges
    contiguous same-level runs of mergeFactor segments; partial runs
    wait for more flushes). Emits one row per (level, group):
    n_segments, first/last segment id, total bytes, will_merge.

    This is the maintenance planner the SegmentStore compaction path
    (operators/update.py::compact) would grow into at 10^12 docs —
    full compaction every cycle is O(corpus); tiered merging is
    O(new data * log(corpus)).

    Scale shape: the segment frame is index-metadata-sized (corpus /
    flush_docs rows); the one window partitions BY LEVEL, bounded per
    key; everything downstream is a partial-agg over group keys."""
    d = t["documents"]
    segs = (
        d.groupBy(
            F.floor(F.col("doc_id") / flush_docs).alias("seg_id")
        )
        .agg(F.sum("n_chars").alias("bytes"))
    )
    lev = segs.select(
        "seg_id",
        "bytes",
        F.floor(
            F.log(F.col("bytes").cast("double"))
            / F.log(F.lit(float(merge_factor)))
        )
        .cast("long")
        .alias("level"),
    )
    w = Window.partitionBy("level").orderBy("seg_id")
    grouped = lev.withColumn(
        "grp",
        F.floor((F.row_number().over(w) - 1) / merge_factor),
    )
    return (
        grouped.groupBy("level", "grp")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.min("seg_id").alias("first_seg"),
            F.max("seg_id").alias("last_seg"),
            F.sum("bytes").alias("total_bytes"),
        )
        .select(
            "level",
            F.col("grp").cast("long").alias("grp"),
            "n_segments",
            "first_seg",
            "last_seg",
            F.col("total_bytes").cast("long").alias("total_bytes"),
            (F.col("n_segments") == merge_factor).alias("will_merge"),
        )
        .orderBy("level", "grp")
    )


EF_RESTART = 1  # closed-form audit: one EF sequence per term


def elias_fano_audit(spark: SparkSession, t) -> DataFrame:
    """Elias-Fano postings-size audit (Vigna "Quasi-succinct indices"
    WSDM'13 — the encoding Lucene ships for doc-id deltas since 8.4 and
    the core of partitioned-EF indexes): a monotone doc-id list of
    length n over universe u costs n*l low bits (l = max(0,
    floor(log2(u/n)))) plus a unary upper-bits stream of n stop bits
    and at most u >> l zero bits — size is a CLOSED FORM of (n, u),
    independent of the actual gaps. This audit compares that bound
    against the gap+varbyte bytes postings_size_estimate plans with,
    per the standard capacity question: which terms should switch
    codec? One row: term count, both byte totals, the EF/varbyte
    ratio, and how many terms EF wins (dense lists — exactly where
    varbyte's 1-byte-per-gap floor loses to EF's sub-bit low arrays).

    Scale shape: one postings agg (map-side combined) feeds a per-term
    frame of (df, gaps); u is one broadcast scalar; the EF arithmetic
    is exact integer math on (df, u) via bin()-length log2 — no
    doubles anywhere except the final rounded ratio, so both engines
    hash-agree. The audit adds zero shuffles beyond the varbyte
    estimate's plan, but NOTE: like the sibling codec audits it
    materializes each term's full sorted posting list in one
    ``collect_list`` buffer, so the per-term memory bound is max df —
    fine for audits over capped/sampled vocabularies, but a stopword's
    buffer is O(corpus) at full web scale; the distributive form (lag
    window over gaps + plain sum, no per-term array) is the drop-in
    when the audit must run uncapped."""
    d = _tok(t["documents"])
    post = (
        d.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    u = post.agg((F.max("doc_id") + 1).alias("u"))
    per_term = (
        post.groupBy("term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .crossJoin(F.broadcast(u))
    )
    gaps, vbytes = _varbyte_gaps()
    sized = (
        per_term.select(
            "term",
            F.size("ids").cast("long").alias("df"),
            "u",
            gaps.alias("gaps"),
        )
        .withColumn(
            "l",
            F.greatest(
                F.lit(0),
                (F.length(F.expr("bin(u div df)")) - 1).cast("int"),
            ),
        )
        .withColumn(
            "ef_bits",
            F.col("df") * F.col("l")
            + F.col("df")
            + F.expr("u div shiftleft(1L, l)")
            + F.lit(1),
        )
        .select(
            "df",
            vbytes.alias("vb"),
            F.expr("(ef_bits + 7) div 8").alias("eb"),
        )
    )
    return sized.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("vb").cast("long").alias("varbyte_bytes"),
        F.sum("eb").cast("long").alias("ef_bytes"),
        F.round(
            F.sum("eb").cast("double") / F.sum("vb").cast("double"), 6
        ).alias("ef_to_varbyte"),
        F.sum((F.col("eb") < F.col("vb")).cast("long"))
        .cast("long")
        .alias("ef_wins"),
    )


SKIP_INTERVAL = 16  # level-1 skip stride (Lucene default 128; audit knob)
SKIP_MULT = 8  # Lucene skipMultiplier
SKIP_ENTRY_BYTES = 9  # doc-delta vint + pointer-delta vint, audit constant


def skiplist_audit(spark: SparkSession, t) -> DataFrame:
    """Lucene multi-level skip-list capacity audit (the
    MultiLevelSkipListWriter structure every Lucene postings format
    carries next to the doc deltas — what advance()/WAND jumps ride):
    a postings list of df docs gets skip levels only when df >=
    skipInterval; the level count is ``1 + floor(log_m(df / s))``
    (s = 16 here, m = 8 = Lucene's skipMultiplier) and level l holds
    ``df // (s * m^l)`` entries. This audit sizes the whole index's
    skip structure — the planner input for the "how much advance()
    acceleration does this segment buy" capacity question, the same
    family as postings_size_estimate / elias_fano_audit.

    Exactness: log_m is exact integer math — ``floor(log_8 x) =
    floor(floor(log2 x) / 3)`` (floor-division identity), and
    floor(log2) is ``length(bin(x)) - 1`` on both engines; entry
    counts fold an integer list; zero doubles anywhere except the
    final rounded average.

    Scale shape: one postings agg (map-side combined) to per-term df,
    then a closed-form map over the term dictionary and one global
    one-row agg — the same single-shuffle plan the other codec audits
    run; nothing touches positions or payloads."""
    d = _tok(t["documents"])
    dfs = (
        d.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.lit(1).alias("one"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    s, m = SKIP_INTERVAL, SKIP_MULT
    sized = dfs.select(
        "df",
        F.expr(
            f"IF(df >= {s},"
            f" 1 + (length(bin(df div {s})) - 1) div 3, 0)"
        ).cast("long").alias("levels"),
    ).withColumn(
        "entries",
        F.expr(
            f"IF(levels > 0,"
            f" aggregate(sequence(0, levels - 1), 0L,"
            f" (acc, l) -> acc + df div ({s} * shiftleft(1L, 3 * l))),"
            f" 0L)"
        ),
    )
    return sized.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum((F.col("levels") > 0).cast("long")).cast("long").alias(
            "n_skipped_terms"
        ),
        F.sum("levels").cast("long").alias("total_levels"),
        F.max("levels").cast("long").alias("max_levels"),
        F.sum("entries").cast("long").alias("total_entries"),
        (F.sum("entries") * F.lit(SKIP_ENTRY_BYTES)).cast("long").alias(
            "est_bytes"
        ),
        F.round(
            F.sum("entries").cast("double")
            / F.greatest(
                F.sum((F.col("levels") > 0).cast("long")), F.lit(1)
            ).cast("double"),
            6,
        ).alias("avg_entries_per_skipped"),
    )


VWH_BUCKETS = 8  # variable_width_histogram target bucket count


def variable_width_histogram_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``variable_width_histogram`` aggregation (equal-depth
    variant): cluster a numeric field (n_chars) into ~N buckets of
    VARIABLE width holding ~equal document mass — the agg ES built
    for skewed numeric fields where fixed-interval histograms put
    everything in two buckets. ES's native algorithm is
    order-dependent (streaming k-means-ish) and unreproducible by
    design; this is the deterministic equal-depth formulation:
    ``bucket(v) = (docs_below_v * N) // total`` — all docs sharing a
    value land in one bucket (value-atomic, the property ES
    guarantees), and bucket boundaries fall wherever the mass says,
    not on a fixed grid.

    Scale shape: the window runs over the DISTINCT-VALUE frame, not
    docs — (value, count) rows, bounded by the field's value
    cardinality exactly like the pipeline-agg family's bucket-row
    windows (textstats date_histogram pipeline precedent); the doc
    pass is one map-side-combinable groupBy. Output <= N rows."""
    vals = (
        t["documents"]
        .groupBy(F.col("n_chars").cast("long").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = vals.agg(F.sum("cnt").alias("total"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    bucketed = (
        vals.withColumn(
            "cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "bucket",
            F.expr(f"(cum_before * {VWH_BUCKETS}) div total").cast("long"),
        )
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.min("v").alias("min_val"),
            F.max("v").alias("max_val"),
            F.sum("cnt").cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("v").cast("double") * F.col("cnt").cast("double"))
                / F.sum("cnt").cast("double"),
                6,
            ).alias("avg_val"),
        )
        .orderBy("bucket")
    )


BORDA_W = 20  # per-ranker list depth


def borda_fusion(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 15,
) -> DataFrame:
    """Borda-count rank fusion (the voting-theory baseline every
    fusion paper benchmarks against, cf. Aslam & Montague SIGIR'01
    "Models for metasearch"): each ranker's top-w list is a ballot —
    the doc at rank r earns ``w - r + 1`` points, unranked docs earn
    0 — and the fused order is by total points. Unlike CombSUM/RRF
    this needs NO score comparability at all (pure ranks, integer
    points), which is why it's the fusion of last resort across
    engines that can't exchange calibrated scores. Fuses the same two
    rankers as combsum_hybrid (BM25 and Dirichlet QL) so the three
    fusion surfaces are directly comparable.

    Exactness: points are integers end-to-end; ties broken (points
    desc, n_lists desc, doc_id) — no floats anywhere.

    Scale shape: each ranker keeps its own audited plan; ranks come
    from windows over the two POST-LIMIT w-row frames, and the fusion
    is one full outer join of two w-row frames — driver-scale
    regardless of corpus size."""
    w = BORDA_W
    a = bm25_plus_topk(spark, t, terms, w, delta=0.0)
    b = query_likelihood_topk(spark, t, terms, w)

    def points(df: DataFrame, alias: str) -> DataFrame:
        win = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return df.select(
            "doc_id",
            (F.lit(w) - F.row_number().over(win) + 1)
            .cast("long")
            .alias(alias),
        )

    pa, pb = points(a, "pa"), points(b, "pb")
    return (
        pa.join(pb, "doc_id", "full")
        .select(
            "doc_id",
            (
                F.coalesce("pa", F.lit(0)) + F.coalesce("pb", F.lit(0))
            ).cast("long").alias("borda"),
            (
                F.col("pa").isNotNull().cast("int")
                + F.col("pb").isNotNull().cast("int")
            ).cast("long").alias("n_lists"),
        )
        .orderBy(F.desc("borda"), F.desc("n_lists"), F.asc("doc_id"))
        .limit(k)
    )


SORT_AUDIT_K = 10  # top-k an early-terminated sorted-index query needs


def index_sort_audit(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = SORT_AUDIT_K,
) -> DataFrame:
    """Lucene index-sorting benefit audit (``index.sort`` in ES;
    Fontoura et al. and the Lucene EarlyTerminatingSortingCollector):
    when segments are sorted by the query's sort key at WRITE time
    (here: quality proxy n_chars desc, doc_id tiebreak), a
    sort-by-that-key query can stop after the k-th hit — the audit
    question is "how much of each postings list does early
    termination actually skip". Per query term: docs scanned = the
    sort-order POSITION of the k-th matching doc (or N when df < k:
    the scan runs dry), and the skip ratio vs a full scan of N.

    Exactness: positions and counts are integers; one rounded divide
    at emit.

    Scale shape: the sort ordinal is exactly the doc ordinal the
    sorted index materializes at BUILD time — at scale it comes from
    the build's range-partitioned rank (operators/ingest.py's doc-id
    machinery), not a runtime window; the audit form here computes it
    with one window over (n_chars, doc_id) and everything downstream
    is a filtered postings join plus a per-term k-th order statistic
    over df-bounded frames."""
    docs = t["documents"]
    n_df = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = docs.select(
        "doc_id", F.row_number().over(w).cast("long").alias("sort_pos")
    )
    matched = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .where(F.col("term").isin(list(terms)))
        .distinct()
        .join(ranked, "doc_id")
    )
    wk = Window.partitionBy("term").orderBy("sort_pos")
    kth = (
        matched.withColumn("rn", F.row_number().over(wk))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.max(F.when(F.col("rn") == k, F.col("sort_pos"))).alias(
                "kth_pos"
            ),
        )
    )
    return (
        kth.crossJoin(F.broadcast(n_df))
        .select(
            "term",
            "df",
            F.when(F.col("df") >= k, F.col("kth_pos"))
            .otherwise(F.col("n_docs"))
            .cast("long")
            .alias("scanned_docs"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
        .withColumn(
            "skip_ratio",
            F.round(
                F.lit(1.0)
                - F.col("scanned_docs").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ),
        )
        .orderBy("term")
    )


SYMSPELL_TYPOS = ("merg", "groupp", "windoe")  # planted d=1 misspellings


def symspell_suggest(
    spark: SparkSession,
    t,
    queries: tuple[str, ...] = SYMSPELL_TYPOS,
    top_n: int = 3,
) -> DataFrame:
    """SymSpell spelling correction (Garbe's symmetric-delete
    algorithm — the indexed alternative to term_suggest's scan-side
    edit distance): precompute every dictionary term's 1-deletes at
    INDEX time, generate the query's 1-deletes at QUERY time, and
    candidates are exactly the terms sharing a delete key — an
    equi-JOIN instead of a fuzzy scan, which is why SymSpell is ~1e6x
    faster than Norvig-style enumeration at large vocabularies.
    Candidates are verified with true levenshtein <= 1 (the delete
    intersection admits distance-2 pairs) and ranked (distance asc,
    corpus frequency desc, term) — top 3 per query.

    Exactness: keys are deterministic substring splices, identical on
    both engines; distance and cf are integers; no floats at all.

    Scale shape: THIS is the Spark-native spell index — the delete-key
    frame is term-dictionary-sized x avg term length, built once and
    reusable (a real deployment persists it as an index sidecar); the
    query side is a handful of broadcast keys, so lookup is one
    broadcast join + one df-bounded verify. No scan of the corpus at
    query time."""
    d = t["documents"]
    vocab = (
        d.select(F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    del_expr = (
        "explode(concat(array({col}), transform(sequence(1,"
        " length({col})), i -> concat(substring({col}, 1, i - 1),"
        " substring({col}, i + 1, length({col}))))))"
    )
    tkeys = vocab.select(
        "term", "cf", F.expr(del_expr.format(col="term")).alias("key")
    )
    qdf = spark.createDataFrame(
        [(q,) for q in queries], "query string"
    )
    qkeys = qdf.select(
        "query", F.expr(del_expr.format(col="query")).alias("key")
    )
    cand = (
        tkeys.join(F.broadcast(qkeys), "key")
        .select("query", "term", "cf")
        .distinct()
        .withColumn("dist", F.levenshtein("query", "term").cast("long"))
        .where(F.col("dist") <= 1)
    )
    wq = Window.partitionBy("query").orderBy(
        F.asc("dist"), F.desc("cf"), F.asc("term")
    )
    return (
        cand.withColumn("rank", F.row_number().over(wq).cast("long"))
        .where(F.col("rank") <= top_n)
        .select("query", "rank", "term", "dist", "cf")
        .orderBy("query", "rank")
    )


ROUTING_SHARDS = 8


def routing_skew_audit(spark: SparkSession, t) -> DataFrame:
    """ES custom ``_routing`` skew audit: routing every doc by its own
    id spreads uniformly, but routing by a LOW-CARDINALITY key (here
    the source/tenant — the classic "route by customer for query
    locality" setup) pins each key to one shard and the shard sizes
    inherit the key distribution — the exact trade every multi-tenant
    index operator has to measure before enabling custom routing
    (query fan-out 1 shard vs write skew). Both schemes use the same
    hash ((key % MOD + 1) * FP_MULT) % MOD % n_shards with the repo's
    shared constants; the source key is the numeric suffix of
    'src<k>'. Output per (scheme, shard): doc count and distinct
    routing keys — the skew is readable straight off the rows (some
    shards get multiple sources, some get none).

    Exactness: pure integer hashing, no floats.

    Scale shape: two map-only shard assignments + one tiny
    (scheme, shard) agg; n_keys is a count-distinct over the already
    narrow (scheme, shard, key) frame. One scan at any corpus size."""
    from unichem2index_spark.functions.hashing import FP_MULT, MOD

    docs = t["documents"]
    n = ROUTING_SHARDS

    def shard_of(key):
        return ((key % MOD + 1) * F.lit(FP_MULT)) % MOD % n

    by_id = docs.select(
        F.lit("id").alias("scheme"),
        shard_of(F.col("doc_id")).cast("long").alias("shard"),
        F.col("doc_id").alias("rkey"),
    )
    srcnum = F.expr("CAST(substring(source, 4) AS BIGINT)")
    by_src = docs.select(
        F.lit("source").alias("scheme"),
        shard_of(srcnum).cast("long").alias("shard"),
        srcnum.alias("rkey"),
    )
    return (
        by_id.unionAll(by_src)
        .groupBy("scheme", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rkey").cast("long").alias("n_keys"),
        )
        .orderBy("scheme", "shard")
    )


BLOCKMAX_B = 64  # docs per block (Lucene impact block is 128; audit knob)


def blockmax_tightness(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    block: int = BLOCKMAX_B,
) -> DataFrame:
    """Block-max upper-bound tightness audit (Ding & Suel SIGIR'11
    Block-Max WAND): BMW's pruning power is exactly the gap between
    each block's LOCAL max impact and the term's GLOBAL max — if
    block maxes hug the global max, block skipping degenerates to
    plain WAND. Per query term: block count, mean and min
    block-max/global-max tightness, and how many blocks sit below
    0.5 (skippable at typical heap thresholds). This is the
    measurement that decides whether impact-ordering or larger blocks
    are worth shipping — the audit sibling of quantize_fidelity, and
    the justification for the serving kernel's per-shard block maxes
    (functions/wand.py).

    Exactness: partials reuse the frozen BM25 expression; tightness
    is one divide of two identically-derived doubles; round(6) at
    emit on the two averaged columns only.

    Scale shape: one filtered-postings pass (|q| terms pre-shuffle)
    to per-(term, block) maxes — map-side combinable, block id is
    doc_id div B so no extra shuffle key width — then a per-term agg
    over block rows. Postings-bounded at any corpus size."""
    d = t["documents"]
    per_block = (
        _bm25_frame(d, terms)
        .scored.select(
            "term",
            F.expr(f"doc_id div {block}").alias("blk"),
            _bm25_weight().alias("p"),
        )
        .groupBy("term", "blk")
        .agg(F.max("p").alias("bmax"))
    )
    gmax = per_block.groupBy("term").agg(F.max("bmax").alias("gmax"))
    tight = per_block.join(F.broadcast(gmax), "term").select(
        "term", (F.col("bmax") / F.col("gmax")).alias("tightness")
    )
    return (
        tight.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.round(F.avg("tightness"), 6).alias("avg_tightness"),
            F.round(F.min("tightness"), 6).alias("min_tightness"),
            F.sum((F.col("tightness") < 0.5).cast("long"))
            .cast("long")
            .alias("n_prunable"),
        )
        .orderBy("term")
    )


TREND_SPLIT = "2024-01-16 00:00:00"  # fixed mid-corpus boundary


def trending_events(spark: SparkSession, t) -> DataFrame:
    """Trending detector over the event stream (the "trending
    queries/topics" dashboard op every search deployment runs): split
    the window at a fixed boundary, count each event_type early vs
    late, and flag rising/falling by the add-one-smoothed rate ratio
    ``(late + 1) / (early + 1)`` — add-one keeps new and vanished
    types finite, the standard dashboard smoothing. The batch twin of
    what streaming/stateful.py's windowed counts feed incrementally.

    Exactness: integer counts; ONE smoothed divide, round(6); the
    label thresholds (>= 1.1 rising, <= 0.9 falling) compare that
    single rounded-input double identically on both engines.

    Scale shape: map-only boundary compare + one (event_type) agg —
    one scan, one narrow shuffle at any event volume; the streaming
    deployment replaces the fixed boundary with sliding windows."""
    ev = t["events"]
    early = (F.col("ts") < F.lit(TREND_SPLIT).cast("timestamp")).cast(
        "long"
    )
    agg = ev.groupBy("event_type").agg(
        F.sum(early).cast("long").alias("n_early"),
        F.sum(F.lit(1) - early).cast("long").alias("n_late"),
    )
    rise = (F.col("n_late").cast("double") + F.lit(1.0)) / (
        F.col("n_early").cast("double") + F.lit(1.0)
    )
    return (
        agg.withColumn("rise", F.round(rise, 6))
        .withColumn(
            "trend",
            F.when(F.col("rise") >= 1.1, F.lit("rising"))
            .when(F.col("rise") <= 0.9, F.lit("falling"))
            .otherwise(F.lit("flat")),
        )
        .orderBy("event_type")
    )


BURST_MIN_DF = 5  # ignore tail terms (burstiness undefined-ish at df 1)


def term_burstiness(
    spark: SparkSession, t, k: int = 20, min_df: int = BURST_MIN_DF
) -> DataFrame:
    """Term burstiness audit (Church & Gale '95 "Poisson mixtures";
    Katz's k-mixture): burstiness = cf/df — the mean within-document
    frequency GIVEN the term appears — separates topical terms (a doc
    about merging says "merge" many times) from function words that
    appear once everywhere. This is the empirical fact the
    two-Poisson model behind BM25's tf saturation rests on, and the
    statistic an indexer consults when picking impact-quantization
    ranges and stopword cuts. Top-k terms by (burstiness desc, term),
    df >= min_df.

    Exactness: cf and df are integers; one rounded divide at emit.

    Scale shape: one postings agg (map-side combined) to (term, df,
    cf), a term-dictionary-bounded frame, then a global top-k — the
    same single-shuffle plan as every other dictionary audit here."""
    d = t["documents"]
    per = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
        .where(F.col("df") >= min_df)
    )
    return (
        per.withColumn(
            "burstiness",
            F.round(
                F.col("cf").cast("double") / F.col("df").cast("double"), 6
            ),
        )
        .orderBy(F.desc("burstiness"), F.asc("term"))
        .limit(k)
    )


def norms_quant_audit(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 20,
) -> DataFrame:
    """Lucene norms-quantization audit (SmallFloat byte norms: since
    Lucene 7 the per-doc field length is stored as ONE byte — a
    3-bit-mantissa float — and BM25's length normalization runs on
    the DECODED lossy value at query time): encode
    ``e = floor(log2 dl)``, ``m = the 3 bits after the leading 1``,
    ``decoded = (8 + m) << (e - 3)`` (exact below 8, <= ~6% relative
    error above), then measure what the loss does to ranking — the
    decoded-doclen BM25 top-k overlap against the exact top-k, plus
    the mean relative doclen error. This is the measurement that
    justifies 1-byte norms: scores move, ranks barely do. Audit
    sibling of quantize_fidelity (impacts) and blockmax_tightness
    (bounds).

    Exactness: encode/decode is pure integer math (bin()-length
    log2, shifts); both rankings reuse the frozen BM25 expression
    over the SAME postings frame; the two emitted ratios are the
    only rounded floats.

    Scale shape: one filtered-postings pass computes both scores
    (the decoded doclen is a map-side expression); the rank
    comparison runs over two post-limit k-row lists."""
    d = t["documents"]
    bf = _bm25_frame(d, terms)
    dl = bf.dl.withColumn(
        "dec",
        F.expr(
            "IF(doclen < 8, doclen,"
            " (8 + shiftright(doclen, length(bin(doclen)) - 4) % 8)"
            " * shiftleft(1L, length(bin(doclen)) - 4))"
        ),
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("doclen").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        F.round(
            F.avg(
                F.abs(
                    F.col("doclen").cast("double")
                    - F.col("dec").cast("double")
                )
                / F.col("doclen").cast("double")
            ),
            6,
        ).alias("avg_rel_err"),
    )
    # The exact weight again, with the decoded length in doclen's place.
    idf = F.log(
        F.lit(1.0)
        + (
            F.col("n_docs").cast("double")
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    qtfn = F.col("tf").cast("double") / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75) * F.col("dec").cast("double") / F.col("avgdl")
        )
    )
    scored = (
        bf.qtok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(bf.dfs), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(_bm25_weight()).alias("s_exact"),
            F.sum(idf * qtfn).alias("s_quant"),
        )
    )

    def topk(col: str) -> DataFrame:
        return (
            scored.orderBy(F.desc(col), F.asc("doc_id"))
            .limit(k)
            .select("doc_id")
        )

    overlap = topk("s_exact").join(topk("s_quant"), "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    err = stats.select("avg_rel_err")
    return (
        overlap.crossJoin(F.broadcast(err))
        .select(
            F.lit(k).cast("long").alias("k"),
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.lit(float(k)), 6
            ).alias("overlap_ratio"),
            "avg_rel_err",
        )
    )


STOPWORD_DF_FRAC = 0.5  # a term in more than half the docs is a stopword


def stopword_prune_audit(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 20,
) -> DataFrame:
    """Stopword-pruning serving audit (the oldest index trade there
    is — Salton-era stoplists through Lucene's StopFilter): drop
    query terms whose df exceeds half the corpus, compare the pruned
    BM25 top-k against the full one, and price the saving in
    postings scanned (sum of df over query terms — exactly the rows
    a DAAT scan touches). The go/no-go numbers for an index-time
    stoplist: how much scan volume goes away vs how much the ranking
    moves.

    Exactness: postings counts are integers; the two rankings reuse
    the frozen BM25 expression; two rounded ratios at emit.

    Scale shape: one filtered-postings pass scores both variants
    (the pruned score is a conditional sum over the same frame);
    set comparison over post-limit k-row lists."""
    d = t["documents"]
    bf = _bm25_frame(d, terms)
    w = _bm25_weight()
    keep = (
        F.col("df").cast("double")
        <= F.lit(STOPWORD_DF_FRAC) * F.col("n_docs").cast("double")
    )
    scored = (
        bf.scored.groupBy("doc_id")
        .agg(
            F.sum(w).alias("s_full"),
            F.sum(F.when(keep, w).otherwise(F.lit(0.0))).alias(
                "s_pruned"
            ),
            F.max(keep.cast("int")).alias("any_kept"),
        )
    )
    full = (
        scored.orderBy(F.desc("s_full"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id")
    )
    pruned = (
        scored.where(F.col("any_kept") == 1)
        .orderBy(F.desc("s_pruned"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id")
    )
    overlap = full.join(pruned, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    scan = bf.dfs.crossJoin(F.broadcast(bf.stats)).agg(
        F.sum("df").cast("long").alias("postings_full"),
        F.sum(F.when(keep, F.col("df")).otherwise(F.lit(0)))
        .cast("long")
        .alias("postings_pruned"),
    )
    return overlap.crossJoin(F.broadcast(scan)).select(
        F.lit(k).cast("long").alias("k"),
        "n_overlap",
        F.round(
            F.col("n_overlap").cast("double") / F.lit(float(k)), 6
        ).alias("overlap_ratio"),
        "postings_full",
        "postings_pruned",
        F.round(
            F.lit(1.0)
            - F.col("postings_pruned").cast("double")
            / F.col("postings_full").cast("double"),
            6,
        ).alias("scan_saved"),
    )


ILM_HOT_DAYS = 7
ILM_WARM_DAYS = 21


def ilm_phase_plan(spark: SparkSession, t) -> DataFrame:
    """ES Index Lifecycle Management phase plan (hot/warm/cold
    tiering — the ops policy every time-series deployment runs next
    to rollover, operators/rollover.py): bucket events by day age
    relative to the newest event — hot <= 7 days, warm <= 21, cold
    beyond — and emit per phase the doc mass and day span the policy
    would move. The audit an operator reads before setting ILM
    min_age thresholds: how much data each phase actually holds.

    Exactness: day arithmetic is integer datediff against one
    broadcast max-date scalar; no floats except the rounded share.

    Scale shape: one map-only phase assignment + one 3-row agg; the
    max-date is a scalar reduce. At 10^12 events the day-bucketing
    pushes into the partition layout (time-partitioned tables make
    this metadata-only), as rollover.py documents."""
    ev = t["events"]
    mx = ev.agg(F.max(F.to_date("ts")).alias("mx"))
    aged = ev.crossJoin(F.broadcast(mx)).select(
        F.datediff("mx", F.to_date("ts")).alias("age_days")
    )
    phase = (
        F.when(F.col("age_days") <= ILM_HOT_DAYS, F.lit("hot"))
        .when(F.col("age_days") <= ILM_WARM_DAYS, F.lit("warm"))
        .otherwise(F.lit("cold"))
    )
    tot = ev.count()
    return (
        aged.groupBy(phase.alias("phase"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("age_days").cast("long").alias("n_days"),
            F.min("age_days").cast("long").alias("min_age"),
            F.max("age_days").cast("long").alias("max_age"),
        )
        .withColumn(
            "share",
            F.round(
                F.col("n_events").cast("double") / F.lit(float(tot)), 6
            ),
        )
        .orderBy("min_age")
    )


PROX_LAMBDA = 2.0  # proximity-bonus weight
PROX_MAX = 1.0  # cap: adjacent pair (dist 1) contributes 1.0


def bm25_prox_topk(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 15,
) -> DataFrame:
    """Proximity-enhanced BM25 (Rasolofo & Savoy ECIR'03; Buttcher/
    Clarke/Lushman SIGIR'06 term-proximity scoring): rank by
    ``BM25(q,d) + lambda * sum over query-term pairs 1/min_dist^2``
    — documents where the query terms sit NEAR each other outrank
    bag-of-words ties, the retrieval-model cousin of the span/
    intervals match family (which filters but doesn't score). Pair
    distance is the minimum absolute position gap; absent pairs
    contribute 0.

    Exactness: BM25 reuses the frozen expression; min_dist is
    integer; the bonus is one divide per pair of an exact integer
    square; round(6) at emit.

    Scale shape: the BM25 leg is the audited filtered-postings plan;
    the proximity leg explodes positions for |q| terms only and
    self-joins co-partitioned on doc_id with per-doc pair cost
    tf_a * tf_b — the intervals_unordered verify bound. At serving
    QPS the same bonus folds into the WAND kernel as a rescore
    (rescore_topk pattern)."""
    d = t["documents"]
    bm = (
        _bm25_frame(d, terms)
        .scored.groupBy("doc_id")
        .agg(F.sum(_bm25_weight()).alias("bm25"))
    )
    pos = d.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "term")
    ).where(F.col("term").isin(list(terms)))
    uniq = sorted(set(terms))
    pair_frames = []
    for i, a in enumerate(uniq):
        for b in uniq[i + 1:]:
            pa = pos.where(F.col("term") == a).select(
                "doc_id", F.col("pos").alias("pa")
            )
            pb = pos.where(F.col("term") == b).select(
                "doc_id", F.col("pos").alias("pb")
            )
            pair_frames.append(
                pa.join(pb, "doc_id")
                .groupBy("doc_id")
                .agg(
                    F.min(F.abs(F.col("pa") - F.col("pb")))
                    .cast("long")
                    .alias("md")
                )
            )
    prox = pair_frames[0]
    for f2 in pair_frames[1:]:
        prox = prox.unionAll(f2)
    bonus = prox.groupBy("doc_id").agg(
        F.sum(
            F.lit(1.0)
            / (F.col("md").cast("double") * F.col("md").cast("double"))
        ).alias("prox")
    )
    return (
        bm.join(bonus, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("bm25")
                + F.lit(PROX_LAMBDA) * F.coalesce("prox", F.lit(0.0))
            ).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


IP_MULT = 2654435761  # Knuth multiplicative hash (shared style)


def ip_range_agg(spark: SparkSession, t) -> DataFrame:
    """ES ``ip_range`` aggregation: bucket documents by client-IP
    ranges — the access-log slicing agg (per-subnet traffic, abuse
    ranges). The corpus stores no IPs, so each doc's IPv4 is DERIVED
    deterministically (the url_features convention): ``ip_int =
    ((doc_id % 65536 + 1) * 2654435761) % 2^32``, rendered dotted-quad
    from its four octets. Buckets are the four /2 prefixes ([0,64),
    [64,128), [128,192), [192,256) on the first octet — fixed ranges
    exactly as an ip_range request lists them), each reporting doc
    count and distinct IPs.

    Exactness: pure integer hash/shift arithmetic, far below 2^63.

    Scale shape: map-only derivation + one 4-row agg; count-distinct
    runs per bucket over the already-derived int — one scan, one
    narrow shuffle."""
    docs = t["documents"]
    ip_int = ((F.col("doc_id") % 65536 + 1) * F.lit(IP_MULT)) % F.lit(
        4294967296
    )
    staged = docs.select(
        ip_int.alias("ip_int"),
        F.expr(
            f"(((doc_id % 65536 + 1) * {IP_MULT}) % 4294967296)"
            " div 16777216"
        ).alias("o1"),
    )
    return (
        staged.groupBy(
            F.expr("o1 div 64").cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("ip_int").cast("long").alias("n_ips"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 64).cast("long").alias("from_octet"),
            (F.col("bucket") * 64 + 64).cast("long").alias("to_octet"),
            "n_docs",
            "n_ips",
        )
        .orderBy("bucket")
    )


COUNTER_PERIOD = 17  # planted sawtooth period (resets every 17 events)


def counter_rate(spark: SparkSession, t) -> DataFrame:
    """ES TSDB ``rate`` over a counter field with RESET handling (the
    time-series metric type ES 8 added for monitoring data): a
    monotonic counter that occasionally resets (process restart) must
    contribute ``delta`` when it grew and ``current_value`` after a
    reset — naive last-minus-first under-counts across resets. The
    counter is PLANTED as a per-user sawtooth (``(rn % 17) * 3`` over
    the user's event sequence — resets every 17 events, deterministic
    on both engines), and the agg reports per-day sample counts and
    the reset-aware total increase.

    Exactness: pure integer window arithmetic; no floats.

    Scale shape: one window per user partition (the same
    partitioning sessionize/eventseq use — user-bounded state), then
    a map-side-combinable day agg. At 10^12 events the user window
    rides the time-partitioned layout like eventseq documents."""
    ev = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    staged = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            (F.row_number().over(w) % COUNTER_PERIOD) * 3
        ).cast("long").alias("counter"),
    ).withColumn("prev", F.lag("counter").over(w))
    contrib = (
        F.when(F.col("prev").isNull(), F.lit(0))
        .when(
            F.col("counter") >= F.col("prev"),
            F.col("counter") - F.col("prev"),
        )
        .otherwise(F.col("counter"))
    )
    return (
        staged.groupBy(
            F.to_date("ts").cast("string").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(contrib).cast("long").alias("increase"),
            F.sum(
                (
                    F.col("prev").isNotNull()
                    & (F.col("counter") < F.col("prev"))
                ).cast("long")
            ).cast("long").alias("n_resets"),
        )
        .orderBy("day")
    )


SDM_W = (0.85, 0.10, 0.05)  # Metzler-Croft unigram/ordered/unordered
SDM_MU = 2000.0  # Dirichlet smoothing
SDM_UW = 8  # unordered window width (positions |i-j| <= 7)


def sdm_topk(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = 15,
) -> DataFrame:
    """Sequential Dependence Model ranking (Metzler & Croft SIGIR'05
    — THE term-dependence retrieval model; Indri/Galago's default and
    the standard strong lexical baseline in every neural-IR paper):

        score(q,d) = 0.85 * sum_t f_T + 0.10 * sum_adjacent f_O
                   + 0.05 * sum_pairs f_U

    with Dirichlet-smoothed log-probabilities per FEATURE
    ``f = ln((tf_f + mu * p_f) / (dl + mu))``: f_T over query
    unigrams, f_O over adjacent query bigrams matched EXACTLY ordered
    (#1 windows), f_U over query-term pairs co-occurring within an
    8-wide unordered window (#uw8, counted as position pairs with
    |i - j| < 8). Collection probabilities carry a +0.5 floor
    (p_f = (cf_f + 0.5)/total_tokens) so zero-cf bigrams stay
    finite — the Indri convention. Candidates = docs matching any
    unigram; absent features contribute their background
    log-probability, exactly as the model specifies.

    Exactness: every feature tf is an integer (array-lambda counts
    for #1, bounded position-pair joins for #uw8); p_f, the per-
    feature log and the weighted sum are fixed-shape doubles mirrored
    token-for-token in the oracle; round(6) at emit.

    Scale shape: unigram/bigram counts are map-side array lambdas;
    #uw8 is |pairs| co-partitioned position joins bounded by
    tf_a * tf_b per doc (the intervals_unordered verify bound); the
    feature model is ~8 broadcast rows; one shuffle on doc_id for the
    final sum. The serving-tier version folds f_T into the WAND
    kernel and rescores top-R with f_O/f_U (rescore_topk pattern)."""
    d = t["documents"]
    tok = d.select("doc_id", tokens_col("text").alias("toks"))
    tokf = tok.select("doc_id", F.explode("toks").alias("term"))
    dl = tokf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("doclen")
    )
    tot = dl.agg(F.sum("doclen").cast("long").alias("total_tokens"))
    q = list(terms)
    uniq = sorted(set(q))
    # unigram tfs
    uni = (
        tokf.where(F.col("term").isin(uniq))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .select(
            "doc_id",
            F.concat(F.lit("u:"), F.col("term")).alias("feat"),
            "tf",
        )
    )
    # ordered adjacent bigram tfs (#1 windows)
    bi_frames = []
    for a, b in zip(q, q[1:]):
        cnt = F.expr(
            f"IF(size(toks) >= 2, size(filter(sequence(1,"
            f" size(toks) - 1), i -> element_at(toks, i) = '{a}'"
            f" AND element_at(toks, i + 1) = '{b}')), 0)"
        ).cast("long")
        bi_frames.append(
            tok.select(
                "doc_id",
                F.lit(f"o:{a} {b}").alias("feat"),
                cnt.alias("tf"),
            ).where(F.col("tf") > 0)
        )
    # unordered-window pair tfs (#uw8)
    pos = tok.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    ).where(F.col("term").isin(uniq))
    uw_frames = []
    for i, a in enumerate(uniq):
        for b in uniq[i + 1:]:
            pa = pos.where(F.col("term") == a).select(
                "doc_id", F.col("pos").alias("pa")
            )
            pb = pos.where(F.col("term") == b).select(
                "doc_id", F.col("pos").alias("pb")
            )
            uw_frames.append(
                pa.join(pb, "doc_id")
                .where(F.abs(F.col("pa") - F.col("pb")) < SDM_UW)
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("long").alias("tf"))
                .select(
                    "doc_id",
                    F.lit(f"w:{a} {b}").alias("feat"),
                    "tf",
                )
            )
    feats_tf = uni
    for f2 in bi_frames + uw_frames:
        feats_tf = feats_tf.unionAll(f2)
    cf = feats_tf.groupBy("feat").agg(
        F.sum("tf").cast("long").alias("cf")
    )
    wmap = (
        [(f"u:{t2}", SDM_W[0]) for t2 in uniq]
        + [(f"o:{a} {b}", SDM_W[1]) for a, b in zip(q, q[1:])]
        + [
            (f"w:{a} {b}", SDM_W[2])
            for i, a in enumerate(uniq)
            for b in uniq[i + 1:]
        ]
    )
    wdf = spark.createDataFrame(wmap, "feat string, w double")
    model = wdf.join(cf, "feat", "left").select(
        "feat",
        "w",
        F.coalesce("cf", F.lit(0)).cast("long").alias("cf"),
    )
    cand = (
        tokf.where(F.col("term").isin(uniq)).select("doc_id").distinct()
    )
    grid = (
        cand.join(dl, "doc_id")
        .crossJoin(F.broadcast(model))
        .crossJoin(F.broadcast(tot))
        .join(feats_tf, ["doc_id", "feat"], "left")
    )
    p_f = (F.col("cf").cast("double") + F.lit(0.5)) / F.col(
        "total_tokens"
    ).cast("double")
    contrib = F.col("w") * F.log(
        (F.coalesce("tf", F.lit(0)).cast("double") + F.lit(SDM_MU) * p_f)
        / (F.col("doclen").cast("double") + F.lit(SDM_MU))
    )
    return (
        grid.groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select("doc_id", F.round("score", 6).alias("score"))
    )


KGRAM_PATTERNS = ("m*e", "gr*p", "w*dow")  # single-star wildcards


def _kgram_required(pattern: str) -> list[str]:
    """Boundary-augmented bigrams a single-star wildcard REQUIRES
    (Manning/Raghavan/Schutze IIR §3.2.2): grams of '$'+prefix and
    suffix+'$', deduplicated, computed query-side in Python (the
    pattern is a literal — only the dictionary side needs engine
    gram generation)."""
    p, s = pattern.split("*", 1)
    grams: list[str] = []
    for seg in ("$" + p, s + "$"):
        grams += [seg[i:i + 2] for i in range(len(seg) - 1)]
    out: list[str] = []
    for g in grams:
        if len(g) == 2 and g not in out:
            out.append(g)
    return out


def kgram_wildcard(
    spark: SparkSession,
    t,
    patterns: tuple[str, ...] = KGRAM_PATTERNS,
) -> DataFrame:
    """K-gram index wildcard expansion (the IR-textbook structure
    behind Lucene/ES wildcard handling when a rewrite can't use the
    term dictionary's prefix order): index every dictionary term's
    boundary-augmented character bigrams ('$mer$...' style), answer
    'm*e' by intersecting the postings of its required grams, then
    post-filter the candidates with the real pattern (the mandatory
    verify step — gram containment over-generates, e.g. 'm*e'
    grams also admit terms where the grams appear out of order).
    Output: every matching dictionary term per pattern with its df —
    what the wildcard REWRITES TO before scoring (bm25_regexp /
    bm25_wildcard then consume the expansion).

    Exactness: pure string/integer ops, no floats.

    Scale shape: the gram-postings frame is vocabulary-sized x term
    length, built once (an index sidecar, same lifecycle as
    symspell_suggest's delete keys); each query is a broadcast join
    of a handful of gram keys + a HAVING count intersection + a
    dictionary-row LIKE verify. No corpus scan at query time."""
    d = t["documents"]
    vocab = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.lit(1).alias("one"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    tgrams = vocab.select(
        "term",
        "df",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1,"
                " length(concat('$', term, '$')) - 1),"
                " i -> substring(concat('$', term, '$'), i, 2)))"
            )
        ).alias("gram"),
    )
    qrows = [
        (pat, g, len(_kgram_required(pat)))
        for pat in patterns
        for g in _kgram_required(pat)
    ]
    qdf = spark.createDataFrame(
        qrows, "pattern string, gram string, n_req int"
    )
    cand = (
        tgrams.join(F.broadcast(qdf), "gram")
        .groupBy("pattern", "term", "df", "n_req")
        .agg(F.countDistinct("gram").alias("n_hit"))
        .where(F.col("n_hit") == F.col("n_req"))
    )
    verified = cand.where(
        F.expr("term LIKE replace(pattern, '*', '%')")
    )
    return (
        verified.select("pattern", "term", "df")
        .orderBy("pattern", "term")
    )


def langid_confusion(spark: SparkSession, t) -> DataFrame:
    """Language-ID confusion matrix — the eval every lang-filter
    deploys before trusting the classifier (lang_id's marker-word
    heuristic) against the corpus's GOLD ``lang`` labels: per (gold,
    predicted) cell the doc count, plus the per-cell share of the
    gold class. The synthetic corpus's text is English-vocabulary for
    every gold label, so the matrix EXPOSES the heuristic's real
    failure mode: non-en gold rows predicted en/und — exactly the
    audit result that tells a pipeline to not filter zh/es/fr on an
    en/de marker list. Prediction logic is lang_id's, unchanged.

    Exactness: integer counts + one rounded share divide.

    Scale shape: map-only marker counting (the lang_id plan) + one
    (gold, pred) agg; the share join touches a label-cardinality
    frame."""
    d = t["documents"]
    toks = tokens_col("text")
    en = F.size(F.filter(toks, lambda x: x.isin(EN_MARKERS)))
    de = F.size(F.filter(toks, lambda x: x.isin(DE_MARKERS)))
    pred = (
        F.when(en > de, "en").when(de > en, "de").otherwise("und")
    )
    cells = (
        d.select(F.col("lang").alias("gold"), pred.alias("pred"))
        .groupBy("gold", "pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    gold_tot = cells.groupBy("gold").agg(
        F.sum("n_docs").alias("n_gold")
    )
    return (
        cells.join(gold_tot, "gold")
        .select(
            "gold",
            "pred",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double")
                / F.col("n_gold").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("gold", "pred")
    )


def completion_context(
    spark: SparkSession, t, prefix: str = "s", k: int = 5
) -> DataFrame:
    """ES context suggester (``completion`` field with a ``category``
    context): the same prefix-FST lookup as
    :func:`completion_suggest`, but completions are FILTERED AND
    RANKED within a context value — here the doc's gold ``lang`` —
    so 'type s, get suggestions popular in YOUR language slice'. Per
    (lang, rank<=k): suggestion + in-context weight. This is the API
    shape ES serves storefront/tenant-scoped autocomplete with.

    Exactness: integer weights, no floats.

    Scale shape: one (lang, term) prefix-filtered agg (map-side
    combined; the prefix predicate prunes before the shuffle) + one
    window over the per-lang dictionary slice — ES's per-context FST
    analog. Dictionary-bounded at any corpus size."""
    docs = t["documents"]
    per = (
        docs.select(
            "lang",
            F.explode(tokens_col(F.col("text"))).alias("suggestion"),
        )
        .where(F.col("suggestion").startswith(prefix))
        .groupBy("lang", "suggestion")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("weight"), F.asc("suggestion")
    )
    return (
        per.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("lang", "rank", "suggestion", "weight")
        .orderBy("lang", "rank")
    )


SERP_TAU = 0.25  # Jaccard threshold for cluster attachment
SERP_K = 20  # SERP depth to cluster


def serp_clusters(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = SERP_K,
    tau: float = SERP_TAU,
) -> DataFrame:
    """SERP result clustering, star-graph variant (the Scatter/Gather
    / carrot2 family of result-page grouping, Cutting et al.
    SIGIR'92): take the BM25 top-k, compute pairwise token-set
    Jaccard, and attach each result to its HIGHEST-RANKED neighbor
    with J >= tau (itself if none) — the non-recursive star
    assignment (Aslam et al.'s star clustering without the leader
    chain, so the plan is one join, no iteration). Output per result:
    rank, its leader's doc_id, and the pair similarity — plus leaders
    attach to themselves, so cluster count is readable off the rows.

    Exactness: Jaccard is a ratio of integer set sizes, round(6); the
    leader choice minimizes an integer rank.

    Scale shape: everything downstream of the audited BM25 top-k runs
    on a k-row frame — the k x k candidate pair join is 400 rows at
    the default depth. Token sets ride along as sorted arrays only
    within this bounded frame."""
    d = t["documents"]
    top = (
        _bm25_frame(d, terms)
        .scored.groupBy("doc_id")
        .agg(F.sum(_bm25_weight()).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .cast("long"),
        )
        .select("doc_id", "rank")
    )
    sets = top.join(
        d.select("doc_id", tokens_col("text").alias("toks")), "doc_id"
    ).select(
        "doc_id", "rank", F.array_distinct(F.sort_array("toks")).alias("s")
    )
    a = sets.select(
        F.col("doc_id").alias("d_a"),
        F.col("rank").alias("r_a"),
        F.col("s").alias("s_a"),
    )
    b = sets.select(
        F.col("doc_id").alias("d_b"),
        F.col("rank").alias("r_b"),
        F.col("s").alias("s_b"),
    )
    jac = (
        F.size(F.array_intersect("s_a", "s_b")).cast("double")
        / F.size(F.array_union("s_a", "s_b")).cast("double")
    )
    pairs = (
        a.join(b, F.col("r_b") < F.col("r_a"))
        .withColumn("j", jac)
        .where(F.col("j") >= tau)
    )
    wbest = Window.partitionBy("d_a").orderBy(F.asc("r_b"))
    best = (
        pairs.withColumn("rn", F.row_number().over(wbest))
        .where(F.col("rn") == 1)
        .select(
            F.col("d_a").alias("doc_id"),
            F.col("d_b").alias("leader"),
            F.round("j", 6).alias("sim"),
        )
    )
    return (
        sets.join(best, "doc_id", "left")
        .select(
            "doc_id",
            "rank",
            F.coalesce("leader", F.col("doc_id")).alias("leader"),
            F.coalesce("sim", F.lit(1.0)).alias("sim"),
        )
        .orderBy("rank")
    )


RERANK_DEPTHS = (10, 20, 50)  # phase-1 candidate depths audited
RERANK_K = 10  # final page size


def rerank_depth_audit(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = RERANK_K,
) -> DataFrame:
    """Two-phase ranking depth audit (the rescore-window tuning curve
    every cascade deployment draws; cf. Wang/Lin/Metzler SIGIR'11
    cascade ranking): phase 1 retrieves top-R by cheap BM25, phase 2
    reranks those R candidates with the expensive scorer (here the
    proximity-enhanced score of :func:`bm25_prox_topk`), and the
    audit asks: against the ORACLE (phase-2 score over all docs),
    what fraction of the true top-k survives each candidate depth R?
    Output one row per R in (10, 20, 50): hits and recall@k — the
    curve that picks the smallest safe rescore window.

    Exactness: set sizes are integers; the two scores reuse the
    frozen expressions; one rounded recall divide per row.

    Scale shape: ONE scored frame (bm25 + prox legs, both audited
    plans) feeds every depth — the per-R work is window/limit over
    k-to-R-row frames, so auditing 3 depths costs one corpus pass."""
    d = t["documents"]
    bm = (
        _bm25_frame(d, terms)
        .scored.groupBy("doc_id")
        .agg(F.sum(_bm25_weight()).alias("bm25"))
    )
    pos = d.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "term")
    ).where(F.col("term").isin(list(terms)))
    uniq = sorted(set(terms))
    pair_frames = []
    for i, a in enumerate(uniq):
        for b in uniq[i + 1:]:
            pa = pos.where(F.col("term") == a).select(
                "doc_id", F.col("pos").alias("pa")
            )
            pb = pos.where(F.col("term") == b).select(
                "doc_id", F.col("pos").alias("pb")
            )
            pair_frames.append(
                pa.join(pb, "doc_id")
                .groupBy("doc_id")
                .agg(
                    F.min(F.abs(F.col("pa") - F.col("pb")))
                    .cast("long")
                    .alias("md")
                )
            )
    prox = pair_frames[0]
    for f2 in pair_frames[1:]:
        prox = prox.unionAll(f2)
    bonus = prox.groupBy("doc_id").agg(
        F.sum(
            F.lit(1.0)
            / (F.col("md").cast("double") * F.col("md").cast("double"))
        ).alias("prox")
    )
    scored = bm.join(bonus, "doc_id", "left").select(
        "doc_id",
        "bm25",
        (
            F.col("bm25")
            + F.lit(PROX_LAMBDA) * F.coalesce("prox", F.lit(0.0))
        ).alias("final"),
    )
    oracle_k = (
        scored.orderBy(F.desc("final"), "doc_id")
        .limit(k)
        .select("doc_id")
    )
    out = None
    for r in RERANK_DEPTHS:
        cand = (
            scored.orderBy(F.desc("bm25"), "doc_id")
            .limit(r)
            .orderBy(F.desc("final"), "doc_id")
            .limit(k)
            .select("doc_id")
        )
        row = (
            cand.join(oracle_k, "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
            .select(
                F.lit(r).cast("long").alias("depth"),
                "n_hit",
                F.round(
                    F.col("n_hit").cast("double") / F.lit(float(k)), 6
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("depth")


BURST_FACTOR = 2.0  # burst = hourly count > factor * median


def event_bursts(spark: SparkSession, t) -> DataFrame:
    """Burst detection over the event stream (the thresholded
    two-state simplification of Kleinberg KDD'02's burst automaton —
    what monitoring dashboards actually ship): mark every hour whose
    event count exceeds 2x the median hourly count, and merge
    consecutive marked hours into burst intervals via the classic
    gaps-and-islands window (island id = hour index minus the marked
    row_number). Per burst: start/end hour, duration, peak and total
    counts. Complements change_point (single structural break) with
    multi-interval anomaly spans.

    Exactness: counts and hour indices are integers; the median
    threshold compares one interpolated double computed identically
    (percentile 0.5) on both engines.

    Scale shape: one hour-bucket agg (map-side combined), then
    windows over the HOURLY frame (720 rows/month at any event
    volume) — the heavy lifting never leaves the bucket frame."""
    ev = t["events"]
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    med = hourly.agg(
        F.expr("percentile(cnt, 0.5)").alias("med")
    )
    mn = hourly.agg(F.min("hour").alias("h0"))
    flagged = (
        hourly.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mn))
        .withColumn(
            "hidx",
            F.expr("timestampdiff(HOUR, h0, hour)").cast("long"),
        )
        .where(F.col("cnt") > F.lit(BURST_FACTOR) * F.col("med"))
    )
    w = Window.orderBy("hidx")
    islands = flagged.withColumn(
        "grp", F.col("hidx") - F.row_number().over(w).cast("long")
    )
    return (
        islands.groupBy("grp")
        .agg(
            F.min("hour").cast("string").alias("start_hour"),
            F.max("hour").cast("string").alias("end_hour"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.max("cnt").cast("long").alias("peak"),
            F.sum("cnt").cast("long").alias("total"),
        )
        .drop("grp")
        .orderBy("start_hour")
    )


SWEEP_BS = (0.0, 0.375, 0.75, 1.0)  # length-normalization grid
SWEEP_K = 10  # P@k cut
SWEEP_QUERIES = [  # (query_id, terms, relevance marker) — AP_QUERIES set
    (0, ["merge", "group"], "key"),
    (1, ["fast", "window"], "scan"),
    (2, ["the", "vector"], "merge"),
]


def bm25_param_sweep(
    spark: SparkSession,
    t,
    queries=None,
    k: int = SWEEP_K,
) -> DataFrame:
    """BM25 b-parameter grid sweep (the tuning loop behind every
    "we tuned b on held-out queries" line since Robertson's TREC-3
    runs): score the query set at b in {0, 0.375, 0.75, 1}, judge
    with the marker convention (rank_eval's), and emit mean P@10 per
    grid point — the curve a search team reads before pinning the
    production b. One postings pass scores EVERY b (the norm is a
    per-row expression family, not a re-scan), which is exactly why
    grid sweeps are cheap on a column engine and painful on a live
    index.

    Exactness: P@k counts are integers; one mean divide per grid
    point (n_queries is a constant), round(6).

    Scale shape: shared filtered-postings frame, one window per
    (b, query) over match-only rows, judgments via a broadcast
    marker join — sweep cost is O(grid) windows over k-bounded
    frames, not O(grid) scans."""
    queries = queries or SWEEP_QUERIES
    d = t["documents"]
    all_terms = sorted({t2 for _, ts, _ in queries for t2 in ts})
    qdf = _query_terms_frame(spark, queries)
    mdf = _markers_frame(spark, queries)
    bf = _bm25_frame(d, all_terms)
    base = bf.scored.join(F.broadcast(qdf), "term")
    rel = (
        bf.tokf.join(F.broadcast(mdf), bf.tokf["term"] == mdf["marker"])
        .select("query_id", "doc_id")
        .distinct()
    )
    n_q = float(len(queries))
    out = None
    for b in SWEEP_BS:
        scored = base.groupBy("query_id", "doc_id").agg(
            F.sum(_bm25_weight(b)).alias("score")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        topk = scored.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= k
        )
        hits = topk.join(rel, ["query_id", "doc_id"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_hits")
        )
        row = hits.select(
            F.lit(b).alias("b"),
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.lit(n_q * k), 6
            ).alias("mean_p_at_k"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("b")


def good_turing_mass(spark: SparkSession, t) -> DataFrame:
    """Good-Turing missing-mass audit (Good '53; Gale & Sampson's
    simple GT): per source, vocabulary size V, token count N, the
    hapax/dis legomena counts N1/N2, the Good-Turing estimate of
    UNSEEN-type probability mass ``N1/N`` (how much of this domain's
    distribution the corpus hasn't seen yet — the number that says
    whether more crawl is worth it), and the GT-smoothed probability
    of a currently-hapax type ``(2 * N2 / N1) / N``. The vocabulary-
    saturation complement of heaps_law's growth curve.

    Exactness: all counts are integers; two rounded divides.

    Scale shape: one (source, term) agg (map-side combined) into a
    count-of-counts frame per source — dictionary-bounded, the same
    single-shuffle plan as every vocabulary audit here."""
    d = t["documents"]
    per = (
        d.select("source", F.explode(tokens_col("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("v"),
            F.sum("cf").cast("long").alias("n"),
            F.sum((F.col("cf") == 1).cast("long")).cast("long").alias(
                "n1"
            ),
            F.sum((F.col("cf") == 2).cast("long")).cast("long").alias(
                "n2"
            ),
        )
        .withColumn(
            "missing_mass",
            F.round(
                F.col("n1").cast("double") / F.col("n").cast("double"), 6
            ),
        )
        .withColumn(
            "p_hapax_gt",
            F.when(
                F.col("n1") > 0,
                F.round(
                    (
                        F.lit(2.0)
                        * F.col("n2").cast("double")
                        / F.col("n1").cast("double")
                    )
                    / F.col("n").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .orderBy("source")
    )


ZMERGE_SHARDS = 4
ZMERGE_K = 10  # per-shard depth and merged page size


def zscore_merge_audit(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = ZMERGE_K,
) -> DataFrame:
    """Federated result merging with z-score normalization (the
    CORI-merge / Z-norm family, Si & Callan's result-merging line) —
    the third leg of the federation stack next to selection
    (redde/cori) and serving (maxscore): shards score with their OWN
    local statistics (local df/avgdl — real federation can't share
    global stats), so raw scores aren't comparable across shards;
    the broker z-normalizes each shard's top-k against that shard's
    top-k mean/std before merging. Emits the merged z-ordered page
    with provenance (shard, local rank, z) — plus how the merge
    would differ under naive raw-score ordering (n_raw_agree column
    per row: 1 if this doc also makes the naive page).

    Exactness: local BM25 reuses the frozen expression with
    shard-local stats; z = (s - mu)/sigma with the deterministic
    population-sigma shape; round(6) at emit.

    Scale shape: per-shard scoring partitions on the shard key (one
    pass, shard-local aggs via groupBy shard); the merge and the
    naive comparison run over n_shards * k rows."""
    d = t["documents"]
    shard = (F.col("doc_id") % ZMERGE_SHARDS).cast("int").alias("shard")
    tokf = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    ).select(shard, "doc_id", "term")
    dl = tokf.groupBy("shard", "doc_id").agg(
        F.count(F.lit(1)).alias("doclen")
    )
    stats = dl.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("doclen").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    qtok = tokf.where(F.col("term").isin(list(terms)))
    dfs = (
        qtok.select("shard", "term", "doc_id")
        .distinct()
        .groupBy("shard", "term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        qtok.groupBy("shard", "doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(dfs, ["shard", "term"])
        .join(dl, ["shard", "doc_id"])
        .join(stats, "shard")
        .groupBy("shard", "doc_id")
        .agg(F.sum(_bm25_weight()).alias("s"))
    )
    wloc = Window.partitionBy("shard").orderBy(
        F.desc("s"), F.asc("doc_id")
    )
    local = scored.withColumn(
        "local_rank", F.row_number().over(wloc).cast("long")
    ).where(F.col("local_rank") <= k)
    lstats = local.groupBy("shard").agg(
        F.avg("s").alias("mu"),
        F.avg(F.col("s") * F.col("s")).alias("m2"),
    )
    z = (F.col("s") - F.col("mu")) / F.sqrt(
        F.col("m2") - F.col("mu") * F.col("mu")
    )
    zed = local.join(F.broadcast(lstats), "shard").withColumn("z", z)
    wz = Window.orderBy(F.desc("z"), F.asc("doc_id"))
    merged = (
        zed.withColumn("rank", F.row_number().over(wz).cast("long"))
        .where(F.col("rank") <= k)
    )
    wraw = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    naive = (
        zed.withColumn("rr", F.row_number().over(wraw))
        .where(F.col("rr") <= k)
        .select("doc_id", F.lit(1).alias("in_naive"))
    )
    return (
        merged.join(naive, "doc_id", "left")
        .select(
            "rank",
            "doc_id",
            F.col("shard").cast("long").alias("shard"),
            "local_rank",
            F.round("z", 6).alias("z"),
            F.coalesce("in_naive", F.lit(0)).cast("long").alias(
                "n_raw_agree"
            ),
        )
        .orderBy("rank")
    )


PFOR_PCTL = 0.9  # patch rate: base width covers 90% of gaps
PFOR_EXC_BYTES = 4  # bytes per patched exception


def pfor_audit(spark: SparkSession, t) -> DataFrame:
    """PFOR postings-size audit (Zukowski/Heman/Nes/Boncz ICDE'06
    "Super-scalar RAM-CPU cache compression" — the patched
    frame-of-reference codec behind Lucene's PackedInts blocks and
    every columnar engine's integer compression): pick a base bit
    width b covering the ~90th-percentile gap, bit-pack everything at
    b, and PATCH the outliers as exceptions. Whole-list variant per
    term: b = bit width of the ceil(0.9 * df)-th smallest doc-gap,
    bytes = ceil(df * b / 8) + 4 * exceptions. One summary row
    against the varbyte baseline — completing the codec triptych
    with postings_size (varbyte) and elias_fano_audit (EF): which
    families win where is THE index-format capacity question.

    Exactness: widths are bin()-length integers; the percentile pick
    is an exact order statistic (sorted array element), no
    interpolation; only the final ratio is a rounded float.

    Scale shape: the same one-shuffle postings agg as the sibling
    audits; per-term gap arrays are df-bounded and the order
    statistic is an in-array sort (array lambdas, no extra
    shuffle). The max-df bound is the honest caveat: a stopword's
    array is O(corpus) uncapped — cap or sample the vocabulary, or
    switch to the distributive lag-window form, for full-scale runs."""
    d = _tok(t["documents"])
    post = (
        d.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per_term = post.groupBy("term").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    gaps, vbytes = _varbyte_gaps()
    sized = (
        per_term.select(
            "term", F.size("ids").cast("long").alias("df"),
            gaps.alias("gaps"),
        )
        .withColumn(
            "widths",
            F.sort_array(
                F.expr("transform(gaps, g -> length(bin(g)))")
            ),
        )
        .withColumn(
            "b",
            F.expr(
                f"element_at(widths,"
                f" CAST(ceil({PFOR_PCTL} * size(widths)) AS INT))"
            ).cast("long"),
        )
        .withColumn(
            "exc",
            F.expr("size(filter(widths, w -> w > b))").cast("long"),
        )
        .withColumn("vb", vbytes)
        .withColumn(
            "pfor",
            F.expr(
                f"(df * b + 7) div 8 + {PFOR_EXC_BYTES} * exc"
            ).cast("long"),
        )
    )
    return sized.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("vb").cast("long").alias("varbyte_bytes"),
        F.sum("pfor").cast("long").alias("pfor_bytes"),
        F.sum("exc").cast("long").alias("n_exceptions"),
        F.round(
            F.sum("pfor").cast("double") / F.sum("vb").cast("double"), 6
        ).alias("pfor_to_varbyte"),
        F.sum((F.col("pfor") < F.col("vb")).cast("long"))
        .cast("long")
        .alias("pfor_wins"),
    )


def source_vocab_overlap(
    spark: SparkSession, t, k: int = 10
) -> DataFrame:
    """Source-vocabulary overlap matrix (the domain-similarity input
    to mixture design — near-identical domains get merged quotas,
    outliers get their own; the same Jaccard statistic dedup uses on
    docs, lifted to DOMAIN vocabularies): distinct-term Jaccard for
    every source pair, top-k most similar pairs with the set sizes.

    Exactness: set sizes are integers; one rounded divide.

    Scale shape: the (source, term) distinct frame is
    domains x vocabulary; the pair join keys on term so |pairs| is
    co-occurrence-bounded, and per-source sizes broadcast — at
    web-scale the same plan runs on hashed vocab samples (MinHash),
    as dedup.py documents for the doc-level case."""
    d = t["documents"]
    sv = (
        d.select("source", F.explode(tokens_col("text")).alias("term"))
        .distinct()
    )
    sizes = sv.groupBy("source").agg(
        F.count(F.lit(1)).alias("v")
    )
    a = sv.select(F.col("source").alias("src_a"), "term")
    b = sv.select(F.col("source").alias("src_b"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("source", "src_a")
            .withColumnRenamed("v", "v_a"),
            "src_a",
        )
        .join(
            sizes.withColumnRenamed("source", "src_b")
            .withColumnRenamed("v", "v_b"),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("v_a").cast("long").alias("v_a"),
            F.col("v_b").cast("long").alias("v_b"),
            F.col("inter").cast("long").alias("n_common"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("v_a") + F.col("v_b") - F.col("inter")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "src_a", "src_b")
        .limit(k)
    )


KAPPA_QUERIES = SWEEP_QUERIES  # same query/marker set


def judge_agreement_kappa(
    spark: SparkSession, t, k: int = 20
) -> DataFrame:
    """Inter-judge agreement via Cohen's kappa (the QA statistic
    every judgment collection reports before its labels are trusted;
    Cohen '60): two deterministic judges label the BM25 top-k —
    judge A says relevant iff the marker term appears (tf >= 1),
    judge B is stricter (tf >= 2) — and kappa corrects raw agreement
    for chance: ``kappa = (po - pe) / (1 - pe)`` with pe from the
    marginals. Per query: the 2x2 confusion counts, po, and kappa —
    the strict-vs-lenient calibration readout.

    Exactness: confusion cells are integers; po/pe/kappa are
    fixed-shape ratios of integers over the constant k, round(6).

    Scale shape: one shared postings pass ranks all queries at once
    (the :func:`_bm25_frame` fanned out by a broadcast (query_id, term)
    join — the shape of ``query._multi_query_scores``); judging joins a
    broadcast marker-tf frame against k-row pages."""
    d = t["documents"]
    queries = KAPPA_QUERIES
    all_terms = sorted({t2 for _, ts, _ in queries for t2 in ts})
    qdf = _query_terms_frame(spark, queries)
    mdf = _markers_frame(spark, queries)
    bf = _bm25_frame(d, all_terms)
    scored = (
        bf.scored.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(_bm25_weight()).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    page = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    mtf = (
        bf.tokf.join(F.broadcast(mdf), bf.tokf["term"] == mdf["marker"])
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("mtf"))
    )
    judged = page.join(mtf, ["query_id", "doc_id"], "left").select(
        "query_id",
        (F.coalesce("mtf", F.lit(0)) >= 1).cast("long").alias("ja"),
        (F.coalesce("mtf", F.lit(0)) >= 2).cast("long").alias("jb"),
    )
    cells = judged.groupBy("query_id").agg(
        F.sum(F.col("ja") * F.col("jb")).cast("long").alias("n_both"),
        F.sum(F.col("ja") * (1 - F.col("jb"))).cast("long").alias(
            "n_a_only"
        ),
        F.sum((1 - F.col("ja")) * F.col("jb")).cast("long").alias(
            "n_b_only"
        ),
        F.sum((1 - F.col("ja")) * (1 - F.col("jb")))
        .cast("long")
        .alias("n_neither"),
    )
    kd = float(k)
    po = (F.col("n_both") + F.col("n_neither")).cast("double") / F.lit(kd)
    pa = (F.col("n_both") + F.col("n_a_only")).cast("double") / F.lit(kd)
    pb = (F.col("n_both") + F.col("n_b_only")).cast("double") / F.lit(kd)
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    return cells.select(
        "query_id",
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        F.round(po, 6).alias("po"),
        F.round(
            F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)).otherwise(
                F.lit(1.0)
            ),
            6,
        ).alias("kappa"),
    ).orderBy("query_id")


def idf_negative_audit(spark: SparkSession, t) -> DataFrame:
    """Negative-IDF audit (the reason Lucene moved from Robertson's
    ``ln((N - df + 0.5)/(df + 0.5))`` — negative for df > N/2, letting
    a matching term LOWER a document's score — to the +1-smoothed
    ``ln(1 + ...)`` this repo freezes): count the vocabulary terms the
    classic formula sends negative, the postings mass they carry, and
    the worst offender — the numbers that justify either the smooth
    idf or a score floor. One summary row.

    Exactness: df counts are integers; the two idf evaluations are
    fixed-shape doubles; rounds at emit only.

    Scale shape: the standard one-shuffle term-dictionary agg plus a
    one-row reduce."""
    d = _tok(t["documents"])
    n_df = d.agg(F.count(F.lit(1)).alias("n"))
    dfs = (
        d.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.lit(1).alias("one"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .crossJoin(F.broadcast(n_df))
    )
    classic = F.log(
        (
            F.col("n").cast("double")
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    sized = dfs.withColumn("idf_classic", classic)
    return sized.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum((F.col("idf_classic") < 0).cast("long"))
        .cast("long")
        .alias("n_negative"),
        F.sum(
            F.when(F.col("idf_classic") < 0, F.col("df")).otherwise(
                F.lit(0)
            )
        ).cast("long").alias("negative_postings"),
        F.sum("df").cast("long").alias("total_postings"),
        F.round(
            F.sum(
                F.when(F.col("idf_classic") < 0, F.col("df")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.sum("df").cast("double"),
            6,
        ).alias("negative_share"),
        F.round(F.min("idf_classic"), 6).alias("min_idf"),
    )


CMS_ROWS = 4  # CountMin depth (independent hash rows)
CMS_PROBES = ("the", "merge", "vector", "customer", "spark", "window")


def countmin_audit(
    spark: SparkSession,
    t,
    probes: tuple[str, ...] = CMS_PROBES,
) -> DataFrame:
    """Count-Min sketch fidelity audit (Cormode & Muthukrishnan '05 —
    THE streaming frequency sketch, the one backing heavy-hitter
    dashboards): 4 hash rows x 256 counters, hashes = successive
    md5-hex-pair buckets (the engine-portable hash family this repo's
    dsir/url ops use), estimate = min over rows of the probed
    counter. CMS never underestimates; the audit reports, per probe
    term, the true collection frequency, the sketch estimate, and the
    collision overestimate — completing the sketch shelf next to HLL
    (cardinality_agg), KMV (kmv_distinct), Bloom (bloom_prefilter)
    and MinHash.

    Exactness: counters and estimates are pure integer sums/mins.

    Scale shape: sketch construction is ONE map-side-combinable agg
    over (row, bucket) — 1024 cells regardless of corpus size (the
    entire point of CMS); probing joins a handful of broadcast keys."""
    d = t["documents"]
    tokf = d.select(F.explode(tokens_col("text")).alias("term"))
    rows = []
    for j in range(CMS_ROWS):
        rows.append(
            tokf.select(
                F.lit(j).alias("row"),
                F.substring(F.md5("term"), 1 + 2 * j, 2).alias("bucket"),
            )
        )
    cells = rows[0]
    for fr in rows[1:]:
        cells = cells.unionAll(fr)
    sketch = cells.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    uniq = sorted(set(probes))
    probe_rows = [
        (t2, j, __import__("hashlib").md5(t2.encode()).hexdigest()[
            2 * j:2 * j + 2
        ])
        for t2 in uniq
        for j in range(CMS_ROWS)
    ]
    pdf = spark.createDataFrame(
        probe_rows, "term string, row int, bucket string"
    )
    est = (
        sketch.join(F.broadcast(pdf), ["row", "bucket"])
        .groupBy("term")
        .agg(F.min("cnt").cast("long").alias("cms_est"))
    )
    true_cf = (
        tokf.where(F.col("term").isin(uniq))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cf"))
    )
    return (
        est.join(true_cf, "term", "left")
        .select(
            "term",
            F.coalesce("true_cf", F.lit(0)).cast("long").alias("true_cf"),
            "cms_est",
            (
                F.col("cms_est") - F.coalesce("true_cf", F.lit(0))
            ).cast("long").alias("overestimate"),
        )
        .orderBy("term")
    )


NEXTWORD_TOP = 20


def nextword_index_plan(
    spark: SparkSession, t, k: int = NEXTWORD_TOP
) -> DataFrame:
    """Nextword-index planning (Williams/Zobel/Bahle IPM'04 "Fast
    phrase querying with combined indexes"): the classic fix for
    slow common-word phrases ("the merge") is a dedicated bigram
    postings list for the most frequent word PAIRS, skipping the
    positional intersection entirely. This plan ranks the top-k
    adjacency bigrams and prices both sides of the trade: the
    positions a phrase query would otherwise decode (sum over
    matching docs of tf_first + tf_second — the intersection's
    decode volume) vs the nextword postings size (one vbyte-ish
    doc entry + count per posting, 5 bytes/doc + 1/occurrence,
    the audit constant).

    Exactness: all counts integer; no floats.

    Scale shape: adjacency pairs come from one array-lambda pass
    (no position self-join); the decode-cost join touches only the
    top-k bigrams' doc sets, each df-bounded; the same single-shuffle
    dictionary plan as the codec audits."""
    d = t["documents"]
    tok = d.select("doc_id", tokens_col("text").alias("toks"))
    big = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "IF(size(toks) >= 2, transform(sequence(1,"
                " size(toks) - 1), i -> concat(element_at(toks, i),"
                " ' ', element_at(toks, i + 1))), array())"
            )
        ).alias("bigram"),
    )
    per_doc = big.groupBy("bigram", "doc_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    top = (
        per_doc.groupBy("bigram")
        .agg(
            F.sum("n").cast("long").alias("n_pairs"),
            F.count(F.lit(1)).cast("long").alias("df_pair"),
        )
        .orderBy(F.desc("n_pairs"), F.asc("bigram"))
        .limit(k)
    )
    post = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    parts = top.select(
        "bigram",
        F.expr("split(bigram, ' ')[0]").alias("w1"),
        F.expr("split(bigram, ' ')[1]").alias("w2"),
    )
    cost = (
        per_doc.join(F.broadcast(parts), "bigram")
        .join(
            post.select(
                "doc_id", F.col("term").alias("w1"),
                F.col("tf").alias("tf1"),
            ),
            ["doc_id", "w1"],
        )
        .join(
            post.select(
                "doc_id", F.col("term").alias("w2"),
                F.col("tf").alias("tf2"),
            ),
            ["doc_id", "w2"],
        )
        .groupBy("bigram")
        .agg(
            F.sum(F.col("tf1") + F.col("tf2"))
            .cast("long")
            .alias("decode_positions")
        )
    )
    return (
        top.join(cost, "bigram")
        .select(
            "bigram",
            "n_pairs",
            "df_pair",
            "decode_positions",
            (F.col("df_pair") * 5 + F.col("n_pairs")).cast("long").alias(
                "nw_bytes"
            ),
        )
        .orderBy(F.desc("n_pairs"), F.asc("bigram"))
    )


DRIFT_DELETE_MOD = 10  # gen N+1 tombstones doc_id % 10 == 3
DRIFT_K = 15


def generation_rank_drift(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = DRIFT_K,
) -> DataFrame:
    """Generation-over-generation rank drift audit (the regression
    check an index operator runs before promoting gen N+1 — the
    query-level complement of update.py's count reconciliation):
    simulate the next generation by tombstoning a deterministic 10%
    of docs (doc_id % 10 == 3, the update-lifecycle convention),
    re-rank the flagship query against the SURVIVING corpus with its
    OWN refreshed statistics (df/avgdl shift when docs leave — the
    part naive diffing misses), and emit the new page with drift
    provenance: each doc's old rank (0 = new entrant) and whether it
    moved. Summary readable off the rows: entrants are exactly the
    rows with old_rank 0.

    Exactness: both rankings reuse the frozen BM25 expression over
    their respective corpora; integer ranks; round(6) scores.

    Scale shape: two filtered-postings passes (the gen-N+1 pass adds
    one pushed-down tombstone predicate — exactly how the real
    generation scan works, operators/update.py); the diff joins two
    k-row pages."""
    d = t["documents"]

    def topk(docs) -> DataFrame:
        scored = (
            _bm25_frame(docs, terms)
            .scored.groupBy("doc_id")
            .agg(F.sum(_bm25_weight()).alias("score"))
        )
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            scored.orderBy(F.desc("score"), "doc_id")
            .limit(k)
            .withColumn("rank", F.row_number().over(w).cast("long"))
        )

    old = topk(d).select(
        "doc_id", F.col("rank").alias("old_rank")
    )
    new = topk(d.where(F.col("doc_id") % DRIFT_DELETE_MOD != 3))
    return (
        new.join(old, "doc_id", "left")
        .select(
            "rank",
            "doc_id",
            F.round("score", 6).alias("score"),
            F.coalesce("old_rank", F.lit(0)).cast("long").alias(
                "old_rank"
            ),
            (
                F.coalesce("old_rank", F.lit(0)) != F.col("rank")
            ).cast("long").alias("moved"),
        )
        .orderBy("rank")
    )


def post_filter_facets(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    selected: str = "en",
    k: int = 10,
) -> DataFrame:
    """ES ``post_filter`` semantics audit — the subtlety every
    faceted-search UI depends on: the selected facet filters the
    HITS but NOT the facet counts (so the sidebar keeps showing what
    the other choices would return). Per lang facet: the doc count
    over the UNFILTERED match set (the sidebar number), whether it's
    the selected facet, and how many of the filtered top-k hits
    carry it (nonzero only for the selection, by construction — the
    invariant that proves the filter applied post-aggregation).

    Exactness: integer counts; the BM25 leg reuses the frozen
    expression; no rounded floats beyond the score-ordering
    (internal only).

    Scale shape: one match pass feeds BOTH the facet agg (unfiltered,
    map-side combined) and the filtered top-k (selectivity predicate
    pushed into the page window only) — the exact double-use ES
    executes post_filter with."""
    d = t["documents"]
    scored = (
        _bm25_frame(d, terms)
        .scored.groupBy("doc_id")
        .agg(F.sum(_bm25_weight()).alias("score"))
        .join(d.select("doc_id", "lang"), "doc_id")
    )
    facets = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched")
    )
    page = (
        scored.where(F.col("lang") == selected)
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )
    in_page = page.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_topk")
    )
    return (
        facets.join(in_page, "lang", "left")
        .select(
            "lang",
            "n_matched",
            (F.col("lang") == selected).cast("long").alias("selected"),
            F.coalesce("n_topk", F.lit(0)).cast("long").alias("n_topk"),
        )
        .orderBy("lang")
    )


SAMPLED_DF_EVERY = 3  # systematic 1-in-3 doc sample


def sampled_df_accuracy(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector", "customer"),
) -> DataFrame:
    """Sampled term-statistics accuracy audit (the trade behind
    approximate df in distributed term dictionaries — shard-sampled
    stats are cheap but biased for mid-frequency terms): estimate
    each term's df from a 1-in-3 systematic doc sample scaled by the
    inverse rate (the redde CSI convention, so membership is
    engine-exact), against the exact df. Per term: exact, sampled
    raw, scaled estimate, and the relative error — the calibration
    table that decides where sampled stats are safe.

    Exactness: counts are integers; the estimate is integers times
    the constant rate; one rounded error divide.

    Scale shape: two filtered postings aggs, the sampled one behind
    a pushed-down modulus predicate — both map-side combinable."""
    d = t["documents"]
    uniq = sorted(set(terms))
    tokf = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    ).where(F.col("term").isin(uniq))
    exact = (
        tokf.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_df"))
    )
    sampled = (
        tokf.where(F.col("doc_id") % SAMPLED_DF_EVERY == 0)
        .select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("sample_df"))
    )
    return (
        exact.join(sampled, "term", "left")
        .select(
            "term",
            "exact_df",
            F.coalesce("sample_df", F.lit(0)).cast("long").alias(
                "sample_df"
            ),
            (
                F.coalesce("sample_df", F.lit(0)) * SAMPLED_DF_EVERY
            ).cast("long").alias("est_df"),
            F.round(
                F.abs(
                    F.coalesce("sample_df", F.lit(0)).cast("double")
                    * F.lit(float(SAMPLED_DF_EVERY))
                    - F.col("exact_df").cast("double")
                )
                / F.col("exact_df").cast("double"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("term")
    )


TAAT_CAPS = (50, 100, 200)  # accumulator limits audited
TAAT_K = 10


def taat_accumulator_audit(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = TAAT_K,
) -> DataFrame:
    """TAAT accumulator-limiting audit (Moffat & Zobel TOIS'96
    "Self-indexing inverted files" — the CONTINUE strategy: process
    terms rarest-first, admit new accumulators only while the table
    has room, keep updating existing ones after): the memory-bounded
    term-at-a-time alternative to WAND's doc-at-a-time pruning. Per
    accumulator cap A in (50, 100, 200): how many accumulators
    actually allocate, and the recall of the capped top-k against the
    unbounded ranking. Admission order is the processing order —
    (term phase = rarest-first rank, then doc order within a
    postings list) — exactly the paper's traversal, expressed as one
    window instead of a loop.

    Exactness: admission is pure integer ordering; capped scores
    reuse the frozen BM25 sum restricted to admitted docs; one
    rounded recall per row.

    Scale shape: ONE scored frame serves every cap; admission is a
    window over (phase, doc_id) on the matched-doc frame; each cap
    costs a k-row set compare. The real TAAT engine bounds MEMORY by
    A — here A bounds the frame the window admits, same contract."""
    d = t["documents"]
    bf = _bm25_frame(d, terms)
    wphase = Window.orderBy(F.asc("df"), F.asc("term"))
    phases = bf.dfs.withColumn(
        "phase", F.row_number().over(wphase).cast("long")
    ).select("term", "df", "phase")
    scored = (
        bf.qtok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(phases), "term")
        .join(bf.dl, "doc_id")
        .crossJoin(F.broadcast(bf.stats))
        .groupBy("doc_id")
        .agg(
            F.sum(_bm25_weight()).alias("score"),
            F.min("phase").cast("long").alias("first_phase"),
        )
    )
    wadm = Window.orderBy(F.asc("first_phase"), F.asc("doc_id"))
    admitted = scored.withColumn(
        "adm", F.row_number().over(wadm).cast("long")
    )
    exact = (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(k)
        .select("doc_id")
    )
    out = None
    for a in TAAT_CAPS:
        capped = (
            admitted.where(F.col("adm") <= a)
            .orderBy(F.desc("score"), "doc_id")
            .limit(k)
            .select("doc_id")
        )
        n_acc = admitted.where(F.col("adm") <= a).agg(
            F.count(F.lit(1)).cast("long").alias("n_acc")
        )
        row = (
            capped.join(exact, "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
            .crossJoin(F.broadcast(n_acc))
            .select(
                F.lit(a).cast("long").alias("a_cap"),
                "n_acc",
                "n_hit",
                F.round(
                    F.col("n_hit").cast("double") / F.lit(float(k)), 6
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("a_cap")


JASS_RHOS = (0.1, 0.5, 1.0)  # postings-budget fractions
JASS_K = 10


def jass_anytime_audit(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = JASS_K,
) -> DataFrame:
    """JASS anytime-ranking audit (Lin & Trotman SIGIR'15 "Anytime
    ranking for impact-ordered indexes"): with postings sorted by
    QUANTIZED IMPACT globally, a traversal budget of rho * total
    postings yields a strict effectiveness/latency dial — the audit
    is the recall-at-budget curve that picks the production rho. 8-bit
    impacts reuse quantize_fidelity's scheme (floor against the
    global max partial); budget selection order is (impact desc,
    term, doc_id) — the deterministic tie-broken form of the
    impact-ordered traversal.

    Exactness: impacts and budget cutoffs are integers; the exact
    reference ranking reuses the frozen float BM25; one rounded
    recall per row.

    Scale shape: one partial-scores frame feeds the quantization,
    the global impact ordering (a window over the
    query-postings-bounded frame), and every budget row; each rho
    costs one k-row set compare."""
    d = t["documents"]
    partials = _bm25_frame(d, terms).scored.select(
        "doc_id", "term", _bm25_weight().alias("p")
    )
    gmax = partials.agg(F.max("p").alias("gmax"))
    quant = partials.crossJoin(F.broadcast(gmax)).select(
        "doc_id",
        "term",
        "p",
        F.floor(F.col("p") / F.col("gmax") * F.lit(255.0))
        .cast("long")
        .alias("impact"),
    )
    word = Window.orderBy(
        F.desc("impact"), F.asc("term"), F.asc("doc_id")
    )
    ordered = quant.withColumn(
        "pos", F.row_number().over(word).cast("long")
    )
    total = ordered.agg(F.max("pos").alias("total"))
    exact = (
        partials.groupBy("doc_id")
        .agg(F.sum("p").alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(k)
        .select("doc_id")
    )
    out = None
    for rho in JASS_RHOS:
        sel = ordered.crossJoin(F.broadcast(total)).where(
            F.col("pos") <= F.ceil(F.lit(rho) * F.col("total"))
        )
        page = (
            sel.groupBy("doc_id")
            .agg(F.sum("impact").cast("long").alias("iscore"))
            .orderBy(F.desc("iscore"), "doc_id")
            .limit(k)
            .select("doc_id")
        )
        used = sel.agg(
            F.count(F.lit(1)).cast("long").alias("postings_used")
        )
        row = (
            page.join(exact, "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
            .crossJoin(F.broadcast(used))
            .select(
                F.lit(rho).alias("rho"),
                "postings_used",
                "n_hit",
                F.round(
                    F.col("n_hit").cast("double") / F.lit(float(k)), 6
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("rho")


PROX_BUCKETS = (0, 1, 3, 7, 15)  # gap <= these; else "16+"


def proximity_histogram(
    spark: SparkSession,
    t,
    term_a: str = "merge",
    term_b: str = "group",
) -> DataFrame:
    """Corpus proximity histogram for a term pair — the statistic
    that calibrates proximity scoring (bm25_prox's lambda) and
    intervals max_gaps defaults: for every doc containing both
    terms, the MINIMUM position gap, bucketed on the power-of-two
    ladder (0, 1, 2-3, 4-7, 8-15, 16+). Reading: how often do these
    words actually sit together vs merely co-occur — the empirical
    basis for treating adjacency as signal.

    Exactness: integer position arithmetic and bucket edges; one
    rounded share.

    Scale shape: the intervals_unordered position-join (per-doc
    tf_a * tf_b bound) into a 6-row histogram agg."""
    d = t["documents"]
    pos = d.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "term")
    )
    pa = pos.where(F.col("term") == term_a).select(
        "doc_id", F.col("pos").alias("pa")
    )
    pb = pos.where(F.col("term") == term_b).select(
        "doc_id", F.col("pos").alias("pb")
    )
    md = (
        pa.join(pb, "doc_id")
        .groupBy("doc_id")
        .agg(
            (F.min(F.abs(F.col("pa") - F.col("pb"))) - 1)
            .cast("long")
            .alias("gap")
        )
    )
    bucket = (
        F.when(F.col("gap") <= 0, F.lit("0"))
        .when(F.col("gap") <= 1, F.lit("1"))
        .when(F.col("gap") <= 3, F.lit("2-3"))
        .when(F.col("gap") <= 7, F.lit("4-7"))
        .when(F.col("gap") <= 15, F.lit("8-15"))
        .otherwise(F.lit("16+"))
    )
    tot = md.count()
    return (
        md.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("gap").cast("long").alias("min_gap"),
            F.max("gap").cast("long").alias("max_gap"),
        )
        .withColumn(
            "share",
            F.round(
                F.col("n_docs").cast("double") / F.lit(float(tot)), 6
            ),
        )
        .orderBy("min_gap")
    )


QRED_BASE = ("the", "merge", "vector", "customer")
QRED_MARKER = "group"
QRED_K = 10


def query_reduction_audit(
    spark: SparkSession, t, k: int = QRED_K
) -> DataFrame:
    """Long-query reduction audit (Kumaran & Carvalho SIGIR'09
    "Reducing long queries using query quality predictors"): for a
    verbose query, score the full query and every leave-one-out
    subquery, and report each variant's post-retrieval NQC predictor
    next to its ACTUAL P@k — the audit that shows whether the
    predictor would have picked the right reduction (the paper's
    whole premise). Variants ride the multi-query machinery as
    distinct query_ids, so the sweep costs ONE postings pass.

    Exactness: NQC reuses qpp_postretrieval's deterministic stddev
    shape; P@k is an integer count; round(6) floats at emit.

    Scale shape: one shared filtered-postings pass fans out to all
    |q|+1 variants via a broadcast (variant, term) join; per-variant
    windows over matched rows; judgments via one broadcast marker
    join."""
    d = t["documents"]
    base = list(QRED_BASE)
    variants = [(0, base)] + [
        (i + 1, [t2 for j, t2 in enumerate(base) if j != i])
        for i in range(len(base))
    ]
    vterms = [
        (vid, t2) for vid, ts in variants for t2 in sorted(set(ts))
    ]
    vdf = spark.createDataFrame(vterms, "vid long, term string")
    labels = spark.createDataFrame(
        [(vid, ",".join(ts)) for vid, ts in variants],
        "vid long, terms string",
    )
    all_terms = sorted(set(base))
    bf = _bm25_frame(d, all_terms)
    scored = (
        bf.scored.join(F.broadcast(vdf), "term")
        .groupBy("vid", "doc_id")
        .agg(F.sum(_bm25_weight()).alias("score"))
    )
    allstats = scored.groupBy("vid").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.avg("score").alias("mu_all"),
    )
    w = Window.partitionBy("vid").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    topk = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    kstats = topk.groupBy("vid").agg(
        F.avg("score").alias("mu_k"),
        F.avg(F.col("score") * F.col("score")).alias("m2_k"),
    )
    rel = (
        bf.tokf.where(F.col("term") == QRED_MARKER)
        .select("doc_id")
        .distinct()
    )
    p10 = (
        topk.join(rel, "doc_id")
        .groupBy("vid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel_topk"))
    )
    sigma = F.sqrt(F.col("m2_k") - F.col("mu_k") * F.col("mu_k"))
    return (
        labels.join(allstats, "vid")
        .join(kstats, "vid")
        .join(p10, "vid", "left")
        .select(
            "vid",
            "terms",
            "n_matched",
            F.round(sigma / F.col("mu_all"), 6).alias("nqc"),
            F.coalesce("n_rel_topk", F.lit(0)).cast("long").alias(
                "n_rel_topk"
            ),
            F.round(
                F.coalesce("n_rel_topk", F.lit(0)).cast("double")
                / F.lit(float(k)),
                6,
            ).alias("p_at_k"),
        )
        .orderBy("vid")
    )


PRIOR_W = 0.3  # link-authority prior weight
PRIOR_K = 15


def prior_mix_audit(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
    k: int = PRIOR_K,
) -> DataFrame:
    """Static link-authority prior mixing (the Brin/Page-era web
    ranking recipe, formalized as a document prior by Kraaij/
    Westerveld/Hiemstra SIGIR'02 "The importance of prior
    probabilities for entry page search"): final score =
    BM25 + w * ln(1 + in_degree) over the derived link graph
    (webgraph module's edge convention) — exactly how a static
    quality signal joins a dynamic relevance score. Emits the mixed
    page with the prior evidence (indeg) and each doc's unmixed rank
    (0 = entrant pulled in by authority alone).

    Exactness: indeg is an integer; one ln per doc mirrored in the
    oracle; round(6) at emit.

    Scale shape: the BM25 leg keeps its audited plan; the prior is
    one shuffle-on-dst count co-joined on doc_id — the static-score
    column a real index bakes in at build time (function_score's
    in-kernel twin, bm25_topk_field_boost_wand, shows the serving
    form)."""
    from unichem2index_spark.functions.hashing import FP_MULT, MOD

    d = t["documents"]
    bm = (
        _bm25_frame(d, terms)
        .scored.groupBy("doc_id")
        .agg(F.sum(_bm25_weight()).alias("bm25"))
    )
    docs = d.select("doc_id")
    n_df = docs.agg(F.count(F.lit(1)).alias("n"))
    dn = docs.crossJoin(F.broadcast(n_df))
    dsts = F.array(
        *[
            ((F.col("doc_id") % MOD + F.lit(j)) * FP_MULT)
            % MOD
            % F.col("n")
            for j in range(1, 4)
        ]
    )
    edges = (
        dn.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    indeg = edges.groupBy(F.col("dst").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("indeg")
    )
    mixed = (
        bm.join(indeg, "doc_id", "left")
        .select(
            "doc_id",
            "bm25",
            F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
        )
        .withColumn(
            "mixed",
            F.col("bm25")
            + F.lit(PRIOR_W)
            * F.log(F.lit(1.0) + F.col("indeg").cast("double")),
        )
    )
    plain_top = (
        mixed.orderBy(F.desc("bm25"), "doc_id")
        .limit(k)
        .withColumn(
            "old_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
            .cast("long"),
        )
        .select("doc_id", "old_rank")
    )
    return (
        mixed.orderBy(F.desc("mixed"), "doc_id")
        .limit(k)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("mixed"), F.asc("doc_id")))
            .cast("long"),
        )
        .join(plain_top, "doc_id", "left")
        .select(
            "rank",
            "doc_id",
            F.round("mixed", 6).alias("score"),
            "indeg",
            F.coalesce("old_rank", F.lit(0)).cast("long").alias(
                "old_rank"
            ),
        )
        .orderBy("rank")
    )


DEDUP_TAUS = (0.5, 0.7, 0.9)


def dedup_threshold_sweep(spark: SparkSession, t) -> DataFrame:
    """Near-dup threshold sweep (the tuning table behind every
    dedup deployment — too low over-merges topics, too high leaks
    templates): exact token-SET Jaccard over all doc pairs, counted
    at tau in (0.5, 0.7, 0.9): candidate pairs and distinct docs
    touched per threshold — read directly against the corpus size to
    pick the production tau. EXACT here as the audit oracle; the
    production path runs the same sweep on the LSH candidate set
    (minhash_lsh_pairs / simhash_groups), whose banding thresholds
    this table calibrates.

    Exactness: set sizes are integers; Jaccard one divide; the
    threshold compares the unrounded ratio on both engines.

    Scale shape: pairs come from a co-occurrence join on the
    (doc, term) distinct frame — quadratic ONLY within shared-term
    doc groups; at web scale this frame is replaced by the banded
    LSH candidates (documented), making the sweep linear in
    candidates."""
    d = t["documents"]
    dt = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .distinct()
    )
    sizes = dt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = dt.select(F.col("doc_id").alias("da"), "term")
    b = dt.select(F.col("doc_id").alias("db"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (
        inter.join(
            sizes.withColumnRenamed("doc_id", "da").withColumnRenamed(
                "sz", "sa"
            ),
            "da",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "db").withColumnRenamed(
                "sz", "sb"
            ),
            "db",
        )
        .select(
            "da",
            "db",
            (
                F.col("inter").cast("double")
                / (F.col("sa") + F.col("sb") - F.col("inter")).cast(
                    "double"
                )
            ).alias("j"),
        )
    )
    out = None
    for tau in DEDUP_TAUS:
        hits = jac.where(F.col("j") >= tau)
        row = hits.agg(
            F.lit(tau).alias("tau"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct(
                F.col("da")
            ).cast("long").alias("_na"),
        )
        docs_touched = (
            hits.select(F.col("da").alias("d"))
            .unionAll(hits.select(F.col("db").alias("d")))
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        )
        row = row.crossJoin(F.broadcast(docs_touched)).select(
            "tau", "n_pairs", "n_docs"
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("tau")


PART_SHARDS = 4


def partitioning_cost_audit(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector"),
) -> DataFrame:
    """Document- vs term-partitioned index cost audit (Moffat, Webber
    & Zobel CIKM'06 "A pipelined architecture for distributed text
    query evaluation" — THE distributed-IR layout question): for a
    query, doc-partitioning broadcasts the query and each shard scans
    its local slice of every postings list (latency = the SLOWEST
    shard's matched rows; network = n_shards * k result rows), while
    term-partitioning ships every query term's ENTIRE postings list
    to one scorer (latency = the full scan; network = all postings
    rows). Per query term set, the numbers that decide the layout:
    per-shard row loads (max = docP latency proxy), their imbalance,
    and termP's network volume. The audit behind this repo's
    doc-sharded serving choice (functions/wand.py's per-shard
    kernels).

    Exactness: all row counts are integers; one rounded imbalance.

    Scale shape: one postings agg keyed (shard, term) — map-side
    combinable — and a shard-cardinality reduce."""
    d = t["documents"]
    ns = PART_SHARDS
    qtok = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .where(F.col("term").isin(list(terms)))
        .select(
            (F.col("doc_id") % ns).cast("int").alias("shard"),
            "term",
            "doc_id",
        )
        .distinct()
    )
    per_shard = qtok.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("rows")
    )
    return per_shard.agg(
        F.lit(ns).cast("long").alias("n_shards"),
        F.sum("rows").cast("long").alias("termp_network_rows"),
        F.max("rows").cast("long").alias("docp_max_shard_rows"),
        F.min("rows").cast("long").alias("docp_min_shard_rows"),
        F.round(
            F.max("rows").cast("double")
            * F.lit(float(ns))
            / F.sum("rows").cast("double"),
            6,
        ).alias("docp_imbalance"),
    )


def hybrid_codec_assignment(spark: SparkSession, t) -> DataFrame:
    """Hybrid per-list codec assignment — the capstone over the codec
    triptych (postings_size varbyte, elias_fano_audit, pfor_audit):
    real formats pick a codec PER POSTINGS LIST (Lucene's
    FOR-vs-bitset choice, PISA's block-codec mixing), so the planning
    question is "what does the argmin assignment save over the best
    single codec". Per term all three byte costs are computed with
    the exact formulas of the sibling audits; output: winner counts,
    the hybrid total, each single-codec total, and the hybrid's
    saving over the best single choice.

    Exactness: every byte count is the siblings' integer math; one
    rounded saving ratio.

    Scale shape: the same single-shuffle postings agg as the
    siblings; the three costs are computed in ONE pass over the
    per-term gap arrays (no extra shuffles vs running one audit).
    Per-term arrays are max-df-bounded — see the elias_fano_audit
    caveat for uncapped-vocabulary runs."""
    d = _tok(t["documents"])
    post = (
        d.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    u = post.agg((F.max("doc_id") + 1).alias("u"))
    per_term = (
        post.groupBy("term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .crossJoin(F.broadcast(u))
    )
    gaps, vbytes = _varbyte_gaps()
    sized = (
        per_term.select(
            "term",
            F.size("ids").cast("long").alias("df"),
            "u",
            gaps.alias("gaps"),
        )
        .withColumn("vb", vbytes)
        .withColumn(
            "l",
            F.greatest(
                F.lit(0),
                (F.length(F.expr("bin(u div df)")) - 1).cast("int"),
            ),
        )
        .withColumn(
            "eb",
            F.expr(
                "(df * l + df + u div shiftleft(1L, l) + 1 + 7) div 8"
            ),
        )
        .withColumn(
            "widths",
            F.sort_array(
                F.expr("transform(gaps, g -> length(bin(g)))")
            ),
        )
        .withColumn(
            "b",
            F.expr(
                "element_at(widths,"
                " CAST(ceil(0.9 * size(widths)) AS INT))"
            ).cast("long"),
        )
        .withColumn(
            "pf",
            F.expr(
                "(df * b + 7) div 8"
                " + 4 * size(filter(widths, w -> w > b))"
            ).cast("long"),
        )
        .withColumn("best", F.least("vb", "eb", "pf"))
    )
    return sized.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum((F.col("best") == F.col("vb")).cast("long"))
        .cast("long")
        .alias("varbyte_wins"),
        F.sum(
            (
                (F.col("best") == F.col("eb"))
                & (F.col("eb") < F.col("vb"))
            ).cast("long")
        ).cast("long").alias("ef_wins"),
        F.sum(
            (
                (F.col("best") == F.col("pf"))
                & (F.col("pf") < F.col("vb"))
                & (F.col("pf") < F.col("eb"))
            ).cast("long")
        ).cast("long").alias("pfor_wins"),
        F.sum("vb").cast("long").alias("varbyte_total"),
        F.sum("eb").cast("long").alias("ef_total"),
        F.sum("pf").cast("long").alias("pfor_total"),
        F.sum("best").cast("long").alias("hybrid_total"),
        F.round(
            F.lit(1.0)
            - F.sum("best").cast("double")
            / F.least(
                F.sum("vb"), F.sum("eb"), F.sum("pf")
            ).cast("double"),
            6,
        ).alias("hybrid_saving"),
    )


def blockmax_metadata_overhead(
    spark: SparkSession,
    t,
    block: int = 64,
) -> DataFrame:
    """Block-max metadata storage overhead (the BMW storage tax:
    Ding & Suel's per-block max scores must live SOMEWHERE — one
    float + one block-offset vint per block per term): total blocks
    across the whole dictionary, metadata bytes at 6 bytes/block
    (4-byte float + ~2-byte offset, the audit constant), against the
    varbyte postings bytes they annotate — the overhead ratio that
    decides the block size (bigger blocks = less metadata, weaker
    bounds; blockmax_tightness measures the other side of exactly
    this dial).

    Exactness: block counts and byte totals are integers; one
    rounded ratio.

    Scale shape: the sibling audits' one-shuffle postings agg; block
    counts are a closed-form array expression over per-term id
    lists (max-df-bounded — see the elias_fano_audit caveat for
    uncapped-vocabulary runs)."""
    d = _tok(t["documents"])
    post = (
        d.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per_term = post.groupBy("term").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    gaps, vbytes = _varbyte_gaps()
    sized = per_term.select(
        "term",
        F.expr(
            f"size(array_distinct(transform(ids,"
            f" x -> x div {block})))"
        ).cast("long").alias("n_blocks"),
        gaps.alias("gaps"),
    ).withColumn("vb", vbytes)
    return sized.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("n_blocks").cast("long").alias("total_blocks"),
        (F.sum("n_blocks") * 6).cast("long").alias("metadata_bytes"),
        F.sum("vb").cast("long").alias("postings_bytes"),
        F.round(
            F.sum("n_blocks").cast("double")
            * F.lit(6.0)
            / F.sum("vb").cast("double"),
            6,
        ).alias("overhead_ratio"),
    )


def term_position_bias(
    spark: SparkSession,
    t,
    terms: tuple[str, ...] = ("the", "merge", "vector", "customer"),
) -> DataFrame:
    """Term position-bias audit (the lead-bias statistic behind
    first-paragraph boosts and span_first queries: do a term's
    occurrences cluster at document starts?): per query term, the
    mean and median RELATIVE position (pos / doclen, in [0, 1)) over
    every occurrence, plus the fraction landing in the first decile
    — uniform text sits near 0.5/0.1; a front-loaded term justifies
    positional boosting (span_first_topk's premise).

    Exactness: relative positions are one divide per occurrence of
    two integers; mean/median round(6) (median is the interpolated
    percentile both engines share — the event_bursts convention).

    Scale shape: one filtered posexplode (terms pruned pre-shuffle)
    and a per-term agg; occurrence-bounded."""
    d = t["documents"]
    tok = d.select("doc_id", tokens_col("text").alias("toks"))
    pos = (
        tok.select(
            "doc_id",
            F.size("toks").alias("n"),
            F.posexplode("toks").alias("pos", "term"),
        )
        .where(F.col("term").isin(list(terms)))
        .select(
            "term",
            (
                F.col("pos").cast("double") / F.col("n").cast("double")
            ).alias("rel"),
        )
    )
    return (
        pos.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.round(F.avg("rel"), 6).alias("mean_rel_pos"),
            F.round(F.expr("percentile(rel, 0.5)"), 6).alias(
                "median_rel_pos"
            ),
            F.round(
                F.sum((F.col("rel") < 0.1).cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("first_decile_share"),
        )
        .orderBy("term")
    )


def heaps_extrapolation(spark: SparkSession, t) -> DataFrame:
    """Heaps-law capacity extrapolation (the dictionary-sizing
    projection an indexer runs before provisioning term-dictionary
    memory: fit V = K * T^beta on PREFIXES of the corpus, predict
    the full vocabulary, compare with truth): two-point fit on the
    doc_id-ordered quarter and half prefixes —
    ``beta = ln(V2/V1)/ln(T2/T1)``, ``K = V1 / T1^beta`` — then
    predict at the full token count. The complement of heaps_law
    (which fits the observed curve): this measures how well the
    early curve PREDICTS, i.e. whether provisioning from a sample is
    safe.

    Exactness: prefix membership is a doc_id threshold (deterministic
    on both engines); V and T are integers; the fit is four libm ops
    in a fixed shape; round(6) at emit.

    Scale shape: three vocabulary aggs (quarter/half/full) — each
    the standard one-shuffle distinct-term count with the prefix
    predicate pushed to the scan."""
    d = t["documents"]
    ids = d.agg(F.max("doc_id").alias("mx"))
    tok = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    ).crossJoin(F.broadcast(ids))

    def vt(frac_num: int, frac_den: int):
        sub = tok.where(
            F.col("doc_id") * frac_den <= F.col("mx") * frac_num
        )
        return sub.agg(
            F.countDistinct("term").cast("long").alias("v"),
            F.count(F.lit(1)).cast("long").alias("t"),
        )

    q1 = vt(1, 4).select(
        F.col("v").alias("v1"), F.col("t").alias("t1")
    )
    q2 = vt(1, 2).select(
        F.col("v").alias("v2"), F.col("t").alias("t2")
    )
    full = vt(1, 1).select(
        F.col("v").alias("v_true"), F.col("t").alias("t_full")
    )
    beta = F.log(
        F.col("v2").cast("double") / F.col("v1").cast("double")
    ) / F.log(F.col("t2").cast("double") / F.col("t1").cast("double"))
    kconst = F.col("v1").cast("double") / F.pow(
        F.col("t1").cast("double"), F.col("beta")
    )
    pred = F.col("k") * F.pow(F.col("t_full").cast("double"), F.col("beta"))
    return (
        q1.crossJoin(q2)
        .crossJoin(full)
        .withColumn("beta", beta)
        .withColumn("k", kconst)
        .withColumn("v_pred", pred)
        .select(
            "t1",
            "v1",
            "t2",
            "v2",
            "t_full",
            "v_true",
            F.round("beta", 6).alias("beta"),
            F.round("k", 6).alias("k"),
            F.round("v_pred", 6).alias("v_pred"),
            F.round(
                F.abs(F.col("v_pred") - F.col("v_true").cast("double"))
                / F.col("v_true").cast("double"),
                6,
            ).alias("rel_err"),
        )
    )

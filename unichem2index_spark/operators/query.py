"""Query engine: BM25 top-k (exact DataFrame path + block-max WAND over
compressed segments) and the analytics ops the reference issues against its
ES index (extractor/loader.go:239-379).

Scale notes
-----------
* The WAND path reads only the query terms' segment rows: ``term IN (...)``
  is pushed to the parquet scan (min/max row-group pruning; on Iceberg,
  file-level pruning), so a 5-term query touches 5 posting lists per shard,
  never the corpus.
* Each shard evaluates top-k locally (document-sharded index — the same
  distribution Lucene/ES uses) and only n_shards*k candidate rows reach the
  global merge, which TakeOrderedAndProject handles on the driver.
* The exact path is one shuffle (groupBy doc_id) over postings of the query
  terms only; it exists as the correctness spine / DuckDB-oracle twin.
"""

from __future__ import annotations

import math
from bisect import bisect_right
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.udf import _wrap_function
from pyspark.sql.window import Window
from pyspark.util import PythonEvalType

from unichem2index_spark.functions import bm25
from unichem2index_spark.functions.phrase import (
    PosTermPostings,
    intervals_ordered_match_topk,
    phrase_match_topk,
    phrase_prefix_match_topk,
    span_containing_match_topk,
    span_first_match_topk,
    span_near_match_topk,
    span_near_or_match_topk,
    span_not_match_topk,
)
from unichem2index_spark.functions.wand import (
    TermBlocks,
    maxscore_topk,
    wand_topk,
)
from unichem2index_spark.operators.build import (
    corpus_stats,
    exact_postings,
    idf_col,
    tokenized_docs,
)
from unichem2index_spark.schemas import TOPK_SCHEMA
from unichem2index_spark.sources.tables import SegmentStore


# JVM objects that hot calls reuse, built once per SparkContext: a py4j
# handle dies with its gateway, so none outlives the session it came from.
_JVM_CACHE: dict[str, tuple[SparkContext, object]] = {}


def _jvm_cached(key: str, build):
    """``build()``, once per active SparkContext."""
    sc = SparkContext._active_spark_context
    hit = _JVM_CACHE.get(key)
    if hit is None or hit[0] is not sc:
        hit = _JVM_CACHE[key] = (sc, build())
    return hit[1]


def _jseq(jcols: list):
    """A Scala Seq of JVM column objects (one JVM call per element)."""
    return SparkContext._jvm.PythonUtils.toSeq(jcols)


def _merge_topk(scores: DataFrame, k: int) -> DataFrame:
    """Top-k of (doc_id, score) candidates by (score desc, doc_id asc),
    score rounded to 6 dp for output only — the global merge of every
    top-k query. Its sort and output columns are built once per session,
    so the merge costs a hot call three JVM calls."""
    order, out = _jvm_cached("merge_topk", lambda: (
        _jseq([F.desc("score")._jc, F.asc("doc_id")._jc]),
        _jseq([F.col("doc_id")._jc, F.round("score", 6).alias("score")._jc]),
    ))
    return DataFrame(
        scores._jdf.sort(order).limit(k).select(out), scores.sparkSession
    )


# --------------------------------------------------------------------------
# Exact DataFrame scorer (no index needed — correctness spine)
# --------------------------------------------------------------------------
def bm25_contribs_from_corpus(
    docs_df: DataFrame, terms: list[str], boosts: dict[str, float] | None = None
) -> DataFrame:
    """(doc_id, term, contrib): every query term's BM25 contribution to
    every matching doc — the shared pre-aggregation half of the corpus
    scorers (plain sum, dis_max, boosting). Same expression tree the
    DuckDB oracles spell out, so downstream combinations stay float-exact
    across engines.

    ``boosts``: optional per-term multipliers (ES query-term ``^boost``).
    The boosted contribution is ``(idf * boost) * w`` — the same float
    association the WAND kernel uses when its per-term idf is pre-scaled,
    so boosted results stay score-identical across all three engines."""
    return _bm25_contribs(tokenized_docs(docs_df), terms, boosts)


def _bm25_contribs(
    tok: DataFrame, terms: list[str], boosts: dict[str, float] | None = None
) -> DataFrame:
    """:func:`bm25_contribs_from_corpus` over a tokenized frame
    (doc_id, tokens, doclen). The query-path convention: n_docs and avgdl
    count EVERY row of ``tok``, docs with no tokens included — unlike
    textstats' BM25 frame, which counts only docs with a token. A caller
    that wants the other convention filters ``tok`` first."""
    uniq = sorted(set(terms))
    # Corpus stats ride the SAME job as a broadcast 1-row aggregate
    # instead of a separate collect() job (which serialized a full
    # tokenize pass before the query could even plan). Float-identical
    # to the literal form: count/sum are cast to double and divided with
    # the same IEEE ops the Python floats used, so every downstream
    # score is bit-equal (oracle hashes unchanged).
    stats_row = tok.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        (
            F.coalesce(F.sum("doclen"), F.lit(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("_avgdl"),
    )
    post = exact_postings(tok)
    # df must be computed over ALL postings (corpus-global), then filtered.
    tstats = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qpost = (
        post.where(F.col("term").isin(uniq))
        .join(F.broadcast(tstats.where(F.col("term").isin(uniq))), "term")
        .crossJoin(F.broadcast(stats_row))
    )
    idf_expr = F.log(
        F.lit(1.0)
        + (F.col("_n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    if boosts:
        boost_expr = F.lit(1.0)
        for t, v in boosts.items():
            boost_expr = F.when(
                F.col("term") == t, F.lit(float(v))
            ).otherwise(boost_expr)
        idf_expr = idf_expr * boost_expr
    return qpost.select(
        "doc_id",
        "term",
        (
            idf_expr
            * (
                F.col("tf")
                / (
                    F.col("tf")
                    + F.lit(bm25.K1)
                    * (
                        F.lit(1.0 - bm25.B)
                        + F.lit(bm25.B) * F.col("doclen") / F.col("_avgdl")
                    )
                )
            )
        ).alias("contrib"),
    )


def bm25_scores_from_corpus(
    docs_df: DataFrame, terms: list[str], boosts: dict[str, float] | None = None
) -> DataFrame:
    """(doc_id, score) for every matching doc, computed with pure DataFrame
    ops from the raw corpus. Mirrors the DuckDB oracle SQL expression by
    expression so the driver hash-compare is exact."""
    return (
        bm25_contribs_from_corpus(docs_df, terms, boosts=boosts)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


def bm25_topk_exact(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """Top-k by (score desc, doc_id asc); score rounded to 6 dp for stable
    cross-engine comparison."""
    return _merge_topk(
        bm25_scores_from_corpus(docs_df, terms, boosts=boosts), k
    )


def bm25_topk_field_boost(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    field: str = "n_chars",
    factor: float = 0.001,
) -> DataFrame:
    """ES ``function_score`` / ``field_value_factor`` analog
    (modifier=ln1p-style, boost_mode=multiply): rank by
    ``BM25(q, d) * ln(1 + factor * d.field)`` — the "boost long/authoritative
    docs" shape (ES equivalent: field_value_factor on a quality column; the
    reference's index carries such metadata per doc, extractor/loader.go:121).

    Declarative corpus path (oracle-checked). Index-serving note: the
    multiplier is bounded by ``ln(1 + factor * max(field))``, so the WAND
    kernel serves this at scale by scaling every block bound by that
    constant (admissible) and rescoring survivors with the per-doc
    multiplier cogrouped from the docs table — same cogroup shape as
    :func:`bm25_topk_filtered`."""
    scores = bm25_scores_from_corpus(docs_df, terms)
    boosted = scores.join(docs_df.select("doc_id", field), "doc_id").select(
        "doc_id",
        (
            F.col("score")
            * F.log(F.lit(1.0) + F.lit(float(factor)) * F.col(field))
        ).alias("score"),
    )
    return _merge_topk(boosted, k)


def bm25_topk_dismax(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """ES ``dis_max`` over per-term subqueries:
    ``score = max(contrib) + tie_breaker * (sum(contrib) - max(contrib))``
    — the best single clause wins, other matching clauses contribute only
    the tie-breaker fraction (tie_breaker=0 is pure disjunction-max,
    tie_breaker=1 collapses to the plain bool/sum query).

    One extra aggregate over the same contributions the plain scorer
    already computes — a single map-side-combined groupBy either way
    (max and sum travel in the same agg buffer; no second pass, no extra
    shuffle). Declarative corpus path, oracle-checked; the WAND serving
    analog keeps bounds admissible since dis_max(d) <= sum(d)."""
    contrib = bm25_contribs_from_corpus(docs_df, terms)
    g = contrib.groupBy("doc_id").agg(
        F.max("contrib").alias("best"), F.sum("contrib").alias("total")
    )
    scored = g.select(
        "doc_id",
        (
            F.col("best")
            + F.lit(float(tie_breaker)) * (F.col("total") - F.col("best"))
        ).alias("score"),
    )
    return _merge_topk(scored, k)


def bm25_topk_boosting(
    docs_df: DataFrame,
    positive_terms: list[str],
    negative_terms: list[str],
    k: int,
    negative_boost: float = 0.5,
) -> DataFrame:
    """ES ``boosting`` query: docs matching the positive clause keep their
    BM25 score, demoted by ``negative_boost`` if they ALSO match the
    negative clause — demote-not-exclude (contrast
    :func:`bm25_topk_must_not`, which drops them).

    The negative side is a pure membership probe: distinct doc_ids
    containing any negative term, left-joined onto the scored positives
    (broadcast-sized whenever the negative terms are selective; Catalyst/
    AQE picks the strategy). Scores: sum first, multiply after — the same
    association the oracle SQL spells."""
    neg = sorted(set(negative_terms))
    scores = bm25_scores_from_corpus(docs_df, positive_terms)
    tok = tokenized_docs(docs_df)
    neg_docs = (
        exact_postings(tok)
        .where(F.col("term").isin(neg))
        .select("doc_id")
        .distinct()
        .withColumn("_neg", F.lit(True))
    )
    demoted = scores.join(neg_docs, "doc_id", "left").select(
        "doc_id",
        (
            F.col("score")
            * F.when(F.col("_neg"), F.lit(float(negative_boost))).otherwise(
                F.lit(1.0)
            )
        ).alias("score"),
    )
    return _merge_topk(demoted, k)


def bm25_topk_gauss_decay(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    field: str = "n_chars",
    origin: float = 300.0,
    denom: float = 1.0,
) -> DataFrame:
    """ES ``function_score`` gauss decay: rank by
    ``BM25(q, d) * exp(-(|d.field - origin|)^2 / denom)`` — "prefer docs
    near the ideal length" (ES's gauss(origin, scale, decay) with
    offset=0; ``denom = 2*sigma^2`` where ``sigma^2 =
    -scale^2 / (2*ln(decay))``, precomputed by the CALLER in plain
    Python so both engines consume one literal and no cross-engine
    ln/divide tree is ever evaluated).

    Same declarative-corpus shape and serving note as
    :func:`bm25_topk_field_boost`: the decay multiplier is bounded by 1,
    so stored WAND bounds stay admissible unchanged at serving time."""
    scores = bm25_scores_from_corpus(docs_df, terms)
    dist = F.abs(F.col(field) - F.lit(float(origin)))
    decayed = scores.join(docs_df.select("doc_id", field), "doc_id").select(
        "doc_id",
        (
            F.col("score")
            * F.exp(-(dist * dist) / F.lit(float(denom)))
        ).alias("score"),
    )
    return _merge_topk(decayed, k)


def collapse_topk(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    collapse_field: str = "source",
) -> DataFrame:
    """ES ``collapse`` (field collapsing): the top-k hits where only the
    best-scoring doc per ``collapse_field`` value survives — the
    diversified-SERP shape (one result per site). ES collapses inside the
    shard collector; here the scored set takes ONE window partitioned by
    the collapse key (hash-partitioned parallel, no global sort) and the
    k winners merge exactly like any top-k.

    Collapse and ranking both operate on RAW scores (round only at emit),
    so group winners and page boundaries agree with the oracle's."""
    scores = bm25_scores_from_corpus(docs_df, terms)
    w = Window.partitionBy(collapse_field).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scores.join(docs_df.select("doc_id", collapse_field), "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id", collapse_field, F.round("score", 6).alias("score")
        )
    )


def explain_score(
    docs_df: DataFrame, terms: list[str], doc_id: int
) -> DataFrame:
    """ES ``_explain`` analog: the per-term BM25 breakdown for one
    (query, doc) pair — term, tf, df, idf, the tf-normalization weight,
    and the contribution, exactly the numbers ES nests under
    "weight(term in doc)". The debugging surface behind every relevance
    investigation.

    One pushed-predicate pass: the doc's postings row is a doc_id-pruned
    scan; df/idf come from the same corpus-global term stats every scorer
    shares. Rounded at emit only."""
    uniq = sorted(set(terms))
    tok = tokenized_docs(docs_df)
    stats = corpus_stats(tok)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    post = exact_postings(tok)
    tstats = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    row = post.where(
        (F.col("doc_id") == doc_id) & F.col("term").isin(uniq)
    ).join(F.broadcast(tstats.where(F.col("term").isin(uniq))), "term")
    idf_expr = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    w_expr = F.col("tf") / (
        F.col("tf")
        + F.lit(bm25.K1)
        * (F.lit(1.0 - bm25.B) + F.lit(bm25.B) * F.col("doclen") / F.lit(avgdl))
    )
    return row.select(
        "term",
        "tf",
        "df",
        F.round(idf_expr, 6).alias("idf"),
        F.round(w_expr, 6).alias("tf_weight"),
        F.round(idf_expr * w_expr, 6).alias("contrib"),
    ).orderBy("term")


def diversified_topk(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    field: str = "source",
    per_key: int = 2,
) -> DataFrame:
    """ES ``diversified_sampler`` shape (also ``collapse`` with
    ``inner_hits`` size > 1): the top-k hits where at most ``per_key``
    docs per ``field`` value survive — bounded per-site representation
    without collapsing to one. ``per_key=1`` degenerates to
    :func:`collapse_topk`.

    Same plan as collapse: score, ONE window partitioned by the
    diversity key (hash-partitioned parallel, never a global sort),
    rank filter, then the ordinary tiny top-k merge. Raw-score ordering
    everywhere; round only at emit."""
    scores = bm25_scores_from_corpus(docs_df, terms)
    w = Window.partitionBy(field).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.join(docs_df.select("doc_id", field), "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= per_key)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", field, F.round("score", 6).alias("score"))
    )


def match_count(docs_df: DataFrame, terms: list[str]) -> DataFrame:
    """ES ``_count`` API for a bool-must query: how many docs contain ALL
    the terms — no scoring, no top-k, one number. The cheapest query ES
    serves and the one dashboards poll constantly.

    ``post`` is one row per (doc_id, term), so the per-doc group count IS
    the distinct matched-term count; map-side partial counts make the
    groupBy shuffle carry only (doc_id, n) pairs for docs touching any
    query term. Index-serving note: on the compressed index this is the
    same ``term IN`` pushed scan as WAND with the heap dropped — per-shard
    posting intersection cardinality, summed."""
    uniq = sorted(set(terms))
    post = exact_postings(tokenized_docs(docs_df))
    per_doc = (
        post.where(F.col("term").isin(uniq))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == len(uniq))
    )
    return per_doc.agg(F.count(F.lit(1)).alias("n_matching"))


# random_score mix constants: Knuth multiplicative hash folded mod 2^32.
_RS_MULT = 2654435761
_RS_MOD = 4294967296


def random_score_topk(
    docs_df: DataFrame, terms: list[str], k: int, seed: int = 0
) -> DataFrame:
    """ES ``function_score`` / ``random_score`` (seeded, boost_mode
    multiply): rank by ``BM25 * r(doc)`` where ``r`` is a deterministic
    per-doc hash in [0, 1) — the A/B-bucketing / result-jitter shape. ES
    seeds a hash of (seed, field value); here the same discipline with an
    explicit integer mix on doc_id, so any engine reproduces the exact
    jitter: ``(((doc_id + seed) * 2654435761) mod 2^32) / 2^32`` — the
    seed offsets the input BEFORE the multiplicative scramble, so
    adjacent seeds produce unrelated orderings (an additive post-multiply
    seed would move r by only 2^-32).

    The mix is exact 64-bit integer arithmetic followed by ONE float
    divide, so Spark and the SQL oracle agree bit-for-bit; the BM25 half
    is the shared corpus tree. Bounded by 1, so the WAND kernel could
    serve it at scale with unscaled (admissible) bounds and a rescore."""
    scores = bm25_scores_from_corpus(docs_df, terms)
    r = (
        F.pmod(
            (F.col("doc_id") + F.lit(int(seed))) * F.lit(_RS_MULT),
            F.lit(_RS_MOD),
        ).cast("double")
        / F.lit(float(_RS_MOD))
    )
    return _merge_topk(
        scores.select("doc_id", (F.col("score") * r).alias("score")), k
    )


def percolate(
    spark: SparkSession,
    docs_df: DataFrame,
    queries: list[tuple[int, list[str], int]],
    phrase_queries: list[tuple[int, list[str]]] | None = None,
) -> DataFrame:
    """ES percolator: the REVERSE search — a registry of stored queries,
    and for every incoming doc, which queries match it (alerting /
    saved-search notification, the classic percolate use). Each stored
    query is (query_id, terms, min_match): the doc matches when it
    contains >= min_match of the query's distinct terms (min_match =
    len(terms) is bool-must, 1 is bool-should).

    Scale shape: the query registry is tiny next to the doc stream, so it
    is BROADCAST twice (exploded terms for the probe, min_match for the
    gate); the only shuffle is the groupBy on (doc_id, query_id), which
    map-side combines to at most |matched pairs| rows. One pass over the
    postings regardless of registry size — ES evaluates queries
    one-by-one per doc; the join formulation batches them all.

    ``phrase_queries``: optional (query_id, phrase) entries — the ES
    percolator stores arbitrary queries, and match_phrase registrations
    are the second-most common kind. Matched with the space-joined-
    token substring test (sentinel spaces == consecutive-token
    adjacency, the same identity the phrase oracle uses): the tiny
    needle list broadcasts, so the check is ONE more map-side pass over
    the tokenized docs — a broadcast nested-loop join, no shuffle at
    all. Phrase query_ids must not collide with term-set query_ids."""
    qrows = [
        (int(qid), sorted({str(t) for t in terms}), int(mm))
        for qid, terms, mm in queries
    ]
    qdf = spark.createDataFrame(
        qrows, "query_id long, terms array<string>, min_match int"
    )
    qterms = qdf.select(
        "query_id", F.explode("terms").alias("term")
    )
    post = exact_postings(tokenized_docs(docs_df)).select("doc_id", "term")
    matched = (
        post.join(F.broadcast(qterms), "term")
        .groupBy("doc_id", "query_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    hits = (
        matched.join(
            F.broadcast(qdf.select("query_id", "min_match")), "query_id"
        )
        .where(F.col("n_matched") >= F.col("min_match"))
        .select("query_id", "doc_id")
    )
    if phrase_queries:
        ndf = spark.createDataFrame(
            [
                (int(qid), " " + " ".join(str(t) for t in p) + " ")
                for qid, p in phrase_queries
            ],
            "query_id long, needle string",
        )
        joined = tokenized_docs(docs_df).select(
            "doc_id",
            F.concat(
                F.lit(" "), F.concat_ws(" ", "tokens"), F.lit(" ")
            ).alias("s"),
        )
        ph = (
            joined.join(F.broadcast(ndf))
            .where(F.expr("position(needle IN s) > 0"))
            .select("query_id", "doc_id")
        )
        hits = hits.unionByName(ph)
    return hits.orderBy("query_id", "doc_id")


def rank_eval(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    marker_term: str,
) -> DataFrame:
    """ES ``_rank_eval`` API: run a query, compare the top-k against a
    rated-document set, emit precision@k / recall@k / MRR — the offline
    relevance-regression harness every search team runs in CI. Ratings
    here are binary and derived deterministically (a doc is relevant iff
    it contains ``marker_term``), so both engines see the same judgments
    without an external ratings file.

    The ranked list is the standard raw-score top-k (round only at emit
    is irrelevant here — only ranks and membership feed the metrics);
    all three metrics are ratios of exact integers, so the single float
    divide per metric agrees across engines. One row out."""
    scores = bm25_scores_from_corpus(docs_df, terms)
    ranked = (
        scores.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("doc_id"))
            ),
        )
    )
    relevant = (
        exact_postings(tokenized_docs(docs_df))
        .where(F.col("term") == marker_term)
        .select("doc_id")
    )
    hits = ranked.join(relevant, "doc_id")
    agg = hits.agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("rank").alias("first_rank"),
    )
    totals = ranked.agg(F.count(F.lit(1)).alias("n_retrieved")).crossJoin(
        relevant.agg(F.count(F.lit(1)).alias("n_relevant"))
    )
    return totals.crossJoin(agg).select(
        F.round(
            F.when(
                F.col("n_retrieved") > 0,
                F.col("n_hits").cast("double") / F.col("n_retrieved"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("precision_at_k"),
        F.round(
            F.when(
                F.col("n_relevant") > 0,
                F.col("n_hits").cast("double") / F.col("n_relevant"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("recall_at_k"),
        F.round(
            F.when(F.col("n_hits") > 0, F.lit(1.0) / F.col("first_rank"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("mrr"),
    )



AP_LCM = 232792560  # lcm(1..20): exact-integer precision@rank weights


def _query_terms_frame(
    spark: SparkSession, queries: list[tuple[int, list[str], str]]
) -> DataFrame:
    """(query_id, term): each query's distinct terms, for a broadcast
    fan-out join."""
    return spark.createDataFrame(
        [(qid, t) for qid, ts, _ in queries for t in sorted(set(ts))],
        "query_id long, term string",
    )


def _markers_frame(
    spark: SparkSession, queries: list[tuple[int, list[str], str]]
) -> DataFrame:
    """(query_id, marker): the term whose presence judges a doc relevant
    to that query (the marker convention of :func:`rank_eval`)."""
    return spark.createDataFrame(
        [(qid, m) for qid, _, m in queries], "query_id long, marker string"
    )


def _multi_query_scores(
    docs_df: DataFrame, queries: list[tuple[int, list[str], str]]
) -> DataFrame:
    """(query_id, doc_id, score): every query's BM25 score for every doc it
    matches. Contributions are computed ONCE over the union of all query
    terms (a term's contribution is query-independent), then fanned out to
    queries by a broadcast (query_id, term) join — Q queries cost one
    postings pass, not Q."""
    all_terms = sorted({t for _, ts, _ in queries for t in ts})
    qdf = _query_terms_frame(docs_df.sparkSession, queries)
    return (
        bm25_contribs_from_corpus(docs_df, all_terms)
        .join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


def _rank_within(
    scored: DataFrame, depth: int, col: str = "rank"
) -> DataFrame:
    """Rows of ``scored`` ranked 1..depth within each query_id by
    (score desc, doc_id asc); the rank lands in ``col``."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return scored.withColumn(col, F.row_number().over(w)).where(
        F.col(col) <= depth
    )


def _marker_postings(
    docs_df: DataFrame, queries: list[tuple[int, list[str], str]]
) -> DataFrame:
    """(query_id, doc_id, tf): each query's marker-term postings — the
    judgments of the multi-query evaluators."""
    post = exact_postings(tokenized_docs(docs_df))
    mdf = _markers_frame(docs_df.sparkSession, queries)
    return post.join(F.broadcast(mdf), post["term"] == mdf["marker"]).select(
        "query_id", "doc_id", "tf"
    )


def avg_precision_eval(
    docs_df: DataFrame,
    queries: list[tuple[int, list[str], str]],
    k: int = 20,
) -> DataFrame:
    """TREC-style Average Precision @ k per query (the metric behind
    MAP, the one number relevance dashboards track) over a multi-query
    set with deterministic binary judgments — doc is relevant to query
    q iff it contains q's marker term (same judgment convention as
    :func:`rank_eval`, so no external ratings file).

    AP = (1/n_rel) * sum over relevant hits at rank r of P@r. Both the
    hit counts and the rank weights are exact integers here: P@r =
    cnt_r / r is accumulated as ``cnt_r * (LCM(1..k)/r)`` — an integer
    sum — and the ONLY float operation is the final single divide by
    ``LCM * n_rel``, so the emitted ap is bit-identical across engines
    regardless of aggregation order (the same order-proofing trick
    ndcg_eval gets from its sequential fold, without the fold).

    Scale shape: one postings pass for all queries
    (:func:`_multi_query_scores`); ranked lists are per-query windows
    over score-matched rows only; judgments join on a marker-postings
    frame. One row out per query."""
    ranked = _rank_within(_multi_query_scores(docs_df, queries), k).select(
        "query_id", "doc_id", "rank"
    )
    rel = (
        _marker_postings(docs_df, queries)
        .select("query_id", "doc_id")
        .distinct()
    )
    nrel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    hits = ranked.join(rel, ["query_id", "doc_id"])
    wc = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    weighted = hits.withColumn("cnt_r", F.count(F.lit(1)).over(wc)).select(
        "query_id",
        (
            F.col("cnt_r") * (F.lit(AP_LCM) / F.col("rank")).cast("long")
        ).alias("term_num"),
    )
    agg = weighted.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum("term_num").alias("num"),
    )
    return (
        nrel.join(agg, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("num"), F.lit(0)).cast("double")
                / (
                    F.lit(float(AP_LCM))
                    * F.col("n_rel").cast("double")
                ),
                6,
            ).alias("ap"),
        )
        .orderBy("query_id")
    )


def redde_resource_selection(
    docs_df: DataFrame,
    terms: list[str],
    n_shards: int = 4,
    sample_every: int = 3,
    top_n: int = 40,
) -> DataFrame:
    """ReDDE resource selection (Si & Callan, SIGIR'03) — the federated
    -search step that decides WHICH index shards/collections a query
    should fan out to, the broker-side counterpart of the doc-sharded
    serving path. A central sample index (CSI) holds every
    ``sample_every``-th doc (deterministic systematic sample — no RNG,
    both engines agree on membership); the query runs BM25 top-n on the
    CSI with the CSI's OWN collection stats (that's ReDDE: the broker
    only ever sees the sample), and each sampled hit votes for its home
    shard scaled by that shard's inverse sampling rate:
    ``est_rel_j = n_votes_j * |S_j| / |CSI_j|`` — an unbiased estimate
    of how many relevant docs shard j holds. Shards rank by est_rel;
    zero-vote shards still report (the broker needs the full ranking to
    cut off fan-out).

    Float exactness: scores reuse the frozen BM25 expression on the
    sampled sub-corpus; est_rel is integers in, ONE multiply and ONE
    divide out, in a fixed association — bit-identical cross-engine.

    Scale shape: the CSI is a tiny fraction of the corpus (fixed
    sampling rate — at 10^12 docs the broker samples per shard and the
    CSI itself shards; nothing here is corpus-global except the
    doc_id%-derived membership predicates, which push down to the
    scan). Votes aggregate n_shards rows; the shard-stats pass is one
    map-side-combinable groupBy."""
    sample = docs_df.where((F.col("doc_id") % sample_every) == 0)
    top = (
        bm25_scores_from_corpus(sample, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(top_n)
    )
    votes = top.groupBy(
        (F.col("doc_id") % n_shards).cast("int").alias("shard")
    ).agg(F.count(F.lit(1)).alias("n_votes"))
    shard_stats = docs_df.groupBy(
        (F.col("doc_id") % n_shards).cast("int").alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("shard_docs"),
        F.sum(
            F.when((F.col("doc_id") % sample_every) == 0, 1).otherwise(0)
        ).cast("long").alias("csi_docs"),
    )
    return (
        shard_stats.join(votes, "shard", "left")
        .select(
            "shard",
            "shard_docs",
            "csi_docs",
            F.coalesce("n_votes", F.lit(0)).alias("n_votes"),
            F.round(
                F.when(
                    F.col("csi_docs") > 0,
                    (
                        F.coalesce("n_votes", F.lit(0)).cast("double")
                        * F.col("shard_docs").cast("double")
                    )
                    / F.col("csi_docs").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("est_rel"),
        )
        .orderBy(F.desc("est_rel"), F.asc("shard"))
    )


CORI_B = 0.4  # CORI default belief floor
CORI_DF_K = 50.0  # df saturation constant
CORI_CW_K = 150.0  # collection-size normalization constant


def cori_selection(
    docs_df: DataFrame,
    terms: list[str],
    n_shards: int = 4,
) -> DataFrame:
    """CORI resource selection (Callan/Lu/Croft SIGIR'95) — the OTHER
    classical federated-search broker next to ReDDE
    (:func:`redde_resource_selection`): instead of sampling documents,
    CORI ranks collections from collection-level statistics alone,
    treating each collection as one giant document in an inference
    network. Per (collection c, query term t):

        T = df_tc / (df_tc + 50 + 150 * cw_c / avg_cw)
        I = ln((C + 0.5) / cf_t) / ln(C + 1.0)
        p(t|c) = 0.4 + 0.6 * T * I

    with df_tc = docs in c containing t, cw_c = tokens in c, C =
    number of collections, cf_t = number of collections containing t.
    Collections are the serving shards (doc_id % n_shards, same split
    redde uses). Terms absent from a shard still contribute the
    belief floor b = 0.4 (T = 0), so every shard scores all |q| terms
    — the broker needs a complete ranking to cut fan-out.

    Float exactness: T, I, p are fixed-shape expressions of integer
    inputs, mirrored token-for-token in the oracle; the per-shard sum
    folds |q| <= a handful of doubles, round(6) at emit.

    Scale shape: UNLIKE redde there is no central sample index — the
    broker state is (C x |vocab-of-q|) numbers. df_tc is a postings
    agg filtered to the query terms BEFORE the shuffle; cw_c is one
    map-side-combinable groupBy; everything downstream is n_shards
    rows. At 10^12 docs this is the cheapest possible selection pass:
    one filtered scan, two tiny aggs."""
    uniq = sorted(set(terms))
    shard = (F.col("doc_id") % n_shards).cast("int").alias("shard")
    tokf = tokenized_docs(docs_df).select(
        "doc_id", F.explode("tokens").alias("term")
    )
    cw = tokf.groupBy(shard).agg(F.count(F.lit(1)).alias("cw"))
    avg_cw = cw.agg(
        (
            F.sum("cw").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_cw")
    )
    df_tc = (
        tokf.where(F.col("term").isin(uniq))
        .select(shard, "term", "doc_id")
        .distinct()
        .groupBy("shard", "term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    cf_t = df_tc.groupBy("term").agg(
        F.count(F.lit(1)).alias("cf_t")
    )
    spark = docs_df.sparkSession
    qdf = spark.createDataFrame([(t,) for t in uniq], "term string")
    grid = cw.crossJoin(F.broadcast(qdf)).crossJoin(F.broadcast(avg_cw))
    t_belief = F.coalesce(F.col("df"), F.lit(0)).cast("double") / (
        F.coalesce(F.col("df"), F.lit(0)).cast("double")
        + F.lit(CORI_DF_K)
        + F.lit(CORI_CW_K) * F.col("cw").cast("double") / F.col("avg_cw")
    )
    i_belief = F.log(
        (F.lit(float(n_shards)) + F.lit(0.5))
        / F.col("cf_t").cast("double")
    ) / F.log(F.lit(float(n_shards)) + F.lit(1.0))
    p = F.lit(CORI_B) + F.lit(1.0 - CORI_B) * t_belief * i_belief
    return (
        grid.join(df_tc, ["shard", "term"], "left")
        .join(F.broadcast(cf_t), "term", "left")
        .withColumn(
            "p",
            F.when(F.col("cf_t").isNotNull(), p).otherwise(F.lit(CORI_B)),
        )
        .groupBy("shard")
        .agg(
            F.max("cw").alias("cw"),
            F.round(F.sum("p"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("shard"))
    )


RBP_P = 0.5  # persistence: dyadic so every partial sum is an exact double


def rbp_eval(
    docs_df: DataFrame,
    queries: list[tuple[int, list[str], str]],
    k: int = 20,
) -> DataFrame:
    """Rank-Biased Precision @ k per query (Moffat & Zobel TOIS'08):
    ``RBP = (1-p) * sum_r rel_r * p^(r-1)`` — the eval metric built on
    an explicit user model (keep reading with persistence p), the
    standard complement to AP/nDCG on relevance dashboards. Judgments
    are the same deterministic marker convention as
    :func:`avg_precision_eval` / :func:`rank_eval`.

    p is pinned to 1/2 so the metric is EXACT: each hit contributes
    the integer ``2^(k-r)``, the per-query accumulator is a BIGINT sum
    (order-proof), and the only float operations are one multiply and
    one divide at emit — ``rbp = 0.5 * num / 2^(k-1)`` — so both
    engines produce bit-equal doubles regardless of aggregation order
    (the avg_precision_eval LCM trick, binary edition).

    Scale shape: one postings pass for all queries
    (:func:`_multi_query_scores`), per-query windows over matched rows
    only, one row out per query."""
    ranked = _rank_within(_multi_query_scores(docs_df, queries), k).select(
        "query_id", "doc_id", "rank"
    )
    rel = (
        _marker_postings(docs_df, queries)
        .select("query_id", "doc_id")
        .distinct()
    )
    nrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = ranked.join(rel, ["query_id", "doc_id"])
    agg = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum(F.expr(f"shiftleft(1L, {k} - rank)")).alias("num"),
    )
    return (
        nrel.join(agg, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.lit(1.0 - RBP_P)
                * F.coalesce(F.col("num"), F.lit(0)).cast("double")
                / F.lit(float(1 << (k - 1))),
                6,
            ).alias("rbp"),
        )
        .orderBy("query_id")
    )


NEG_PER_QUERY = 5  # hard negatives mined per query


def hard_negatives(
    docs_df: DataFrame,
    queries: list[tuple[int, list[str], str]],
    n_neg: int = NEG_PER_QUERY,
) -> DataFrame:
    """BM25 hard-negative mining (the DPR/ANCE recipe — Karpukhin et
    al. EMNLP'20 mine dense-retriever training negatives as 'top BM25
    hits that are NOT relevant'): per query, the highest-scoring
    matched docs that fail the relevance judgment (marker convention,
    as avg_precision_eval) — lexically confusable, semantically
    wrong, exactly the contrastive examples a retriever trains
    against. Emits (query_id, neg_rank, doc_id, score).

    Exactness: the ranking reuses the frozen BM25 contributions;
    score rounds at emit; everything else is integer.

    Scale shape: one shared postings pass for all queries
    (:func:`_multi_query_scores`), relevance as a broadcast
    marker-postings anti-join, per-query windows over matched rows
    only."""
    rel = (
        _marker_postings(docs_df, queries)
        .select("query_id", "doc_id")
        .distinct()
    )
    negs = _multi_query_scores(docs_df, queries).join(
        rel, ["query_id", "doc_id"], "left_anti"
    )
    return (
        _rank_within(negs, n_neg, "neg_rank")
        .select(
            "query_id",
            F.col("neg_rank").cast("long").alias("neg_rank"),
            "doc_id",
            F.round("score", 6).alias("score"),
        )
        .orderBy("query_id", "neg_rank")
    )


QPP_K = 20  # top-k the post-retrieval predictors inspect


def qpp_postretrieval(
    docs_df: DataFrame,
    queries: list[tuple[int, list[str], str]],
    k: int = QPP_K,
) -> DataFrame:
    """Post-retrieval query-performance prediction (WIG, Zhou & Croft
    SIGIR'07; NQC, Shtok/Kurland/Carmel TOIS'12) — the score-shape
    predictors a broker computes AFTER retrieval to decide whether to
    trust, expand, or re-route a query (complement of the
    pre-retrieval qpp entry): over each query's BM25 score list,

        WIG = (mean(top-k) - mean(all matched)) / sqrt(|q|)
        NQC = stddev(top-k) / mean(all matched)

    — high WIG/NQC = a peaked, confident ranking; flat scores predict
    poor effectiveness. Deterministic stddev shape:
    ``sqrt(avg(s^2) - avg(s)^2)`` (population), spelled identically
    in the oracle.

    Exactness: fixed-shape double expressions over integer-derived
    scores; round(6) at emit.

    Scale shape: the :func:`_multi_query_scores` shared postings pass;
    the predictors aggregate per-query score frames (matched rows only);
    one row out per query."""
    qn = docs_df.sparkSession.createDataFrame(
        [(qid, len(sorted(set(ts)))) for qid, ts, _ in queries],
        "query_id long, nq int",
    )
    scored = _multi_query_scores(docs_df, queries)
    allstats = scored.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.avg("score").alias("mu_all"),
    )
    kstats = _rank_within(scored, k).groupBy("query_id").agg(
        F.avg("score").alias("mu_k"),
        F.avg(F.col("score") * F.col("score")).alias("m2_k"),
    )
    sigma = F.sqrt(
        F.col("m2_k") - F.col("mu_k") * F.col("mu_k")
    )
    return (
        allstats.join(kstats, "query_id")
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "n_matched",
            F.round("mu_k", 6).alias("mu_k"),
            F.round(
                (F.col("mu_k") - F.col("mu_all"))
                / F.sqrt(F.col("nq").cast("double")),
                6,
            ).alias("wig"),
            F.round(sigma / F.col("mu_all"), 6).alias("nqc"),
        )
        .orderBy("query_id")
    )


PIVOT_DEPTH = 50  # retrieval depth per query for the length audit
PIVOT_BUCKETS = 10  # length deciles


def pivoted_length_audit(
    docs_df: DataFrame,
    queries: list[tuple[int, list[str], str]],
    depth: int = PIVOT_DEPTH,
) -> DataFrame:
    """Pivoted length-normalization audit (Singhal/Buckley/Mitra
    SIGIR'96 — the retrieval-probability-vs-length plot that
    motivated pivoted normalization and BM25's b parameter): bucket
    docs into length deciles (value-atomic equal-depth cut, the
    variable_width_histogram assignment), run the query set's BM25
    top-depth, and per decile compare the share of RETRIEVALS landing
    there against the share of DOCS living there — ratio > 1 means
    the scorer over-retrieves that length band, the exact signal the
    paper tuned the pivot against.

    Exactness: all shares are integer ratios, round(6).

    Scale shape: the multi-query leg is the :func:`_multi_query_scores`
    shared postings pass; the decile assignment windows over the
    DISTINCT-LENGTH frame (value-cardinality-bounded), never docs;
    the final join is deciles x retrievals on a bucket key."""
    dl = tokenized_docs(docs_df).select("doc_id", "doclen")
    vals = dl.groupBy("doclen").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vals.agg(F.sum("cnt").alias("total"))
    wv = Window.orderBy("doclen").rowsBetween(
        Window.unboundedPreceding, -1
    )
    buckets = (
        vals.withColumn(
            "cum_before", F.coalesce(F.sum("cnt").over(wv), F.lit(0))
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "bucket",
            F.expr(f"(cum_before * {PIVOT_BUCKETS}) div total").cast(
                "long"
            ),
        )
        .select("doclen", "bucket")
    )
    retr = (
        _rank_within(_multi_query_scores(docs_df, queries), depth)
        .join(dl, "doc_id")
        .join(buckets, "doclen")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_retrieved"))
    )
    docs_b = (
        dl.join(buckets, "doclen")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    totals = docs_b.agg(
        F.sum("n_docs").cast("double").alias("td")
    )
    rtot = retr.agg(F.sum("n_retrieved").cast("double").alias("tr"))
    return (
        docs_b.join(retr, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(rtot))
        .select(
            "bucket",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce("n_retrieved", F.lit(0))
            .cast("long")
            .alias("n_retrieved"),
            F.round(F.col("n_docs").cast("double") / F.col("td"), 6).alias(
                "doc_share"
            ),
            F.round(
                F.coalesce("n_retrieved", F.lit(0)).cast("double")
                / F.col("tr"),
                6,
            ).alias("retr_share"),
            F.round(
                (
                    F.coalesce("n_retrieved", F.lit(0)).cast("double")
                    / F.col("tr")
                )
                / (F.col("n_docs").cast("double") / F.col("td")),
                6,
            ).alias("ratio"),
        )
        .orderBy("bucket")
    )


POOL_DEPTH = 10  # per-system pool contribution depth


def trec_pool(
    docs_df: DataFrame,
    queries: list[tuple[int, list[str], str]],
    depth: int = POOL_DEPTH,
) -> DataFrame:
    """TREC judgment-pool construction audit (Voorhees' pooling
    methodology — the step that decides how many docs per query get
    human judgments): pool = union of each system's top-d, and the
    budget question is how much the systems overlap. Two runs from
    the same corpus-path family, the realistic ablation pair: system
    A = the frozen BM25 (b = 0.75 length normalization), system B =
    BM25 with b = 0 (no length normalization) — a classic
    configuration sweep. Per query: pool size, overlap, per-system
    uniques, and the overlap Jaccard — the numbers that set the
    assessment budget and flag when a run contributes nothing new.

    Exactness: set sizes are integers; one rounded Jaccard divide.

    Scale shape: both systems share ONE postings pass (contributions
    are computed once; system B's scores are a different fold of the
    same (tf, doclen) frame), per-query windows rank match-only rows,
    and all set algebra runs over 2*d-row frames per query."""
    all_terms = sorted({t for _, ts, _ in queries for t in ts})
    qdf = _query_terms_frame(docs_df.sparkSession, queries)
    tok = tokenized_docs(docs_df)
    post = exact_postings(tok)
    stats = tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("doclen").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    dfs = (
        post.where(F.col("term").isin(all_terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    base = (
        post.where(F.col("term").isin(all_terms))
        .join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
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
    tfd = F.col("tf").cast("double")
    norm_a = tfd / (
        tfd
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75) * F.col("doclen").cast("double") / F.col("avgdl")
        )
    )
    norm_b = tfd / (tfd + F.lit(1.2))
    scored = base.groupBy("query_id", "doc_id").agg(
        F.sum(idf * norm_a).alias("score_a"),
        F.sum(idf * norm_b).alias("score_b"),
    )

    def topd(col: str) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.desc(col), F.asc("doc_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= depth)
            .select("query_id", "doc_id")
        )

    a, b = topd("score_a"), topd("score_b")
    tagged = (
        a.withColumn("in_a", F.lit(1))
        .join(
            b.withColumn("in_b", F.lit(1)),
            ["query_id", "doc_id"],
            "full",
        )
        .select(
            "query_id",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
    )
    return (
        tagged.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("pool_size"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias(
                "n_overlap"
            ),
            F.sum(F.col("in_a") * (1 - F.col("in_b")))
            .cast("long")
            .alias("n_only_a"),
            F.sum(F.col("in_b") * (1 - F.col("in_a")))
            .cast("long")
            .alias("n_only_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_overlap").cast("double")
                / F.col("pool_size").cast("double"),
                6,
            ),
        )
        .orderBy("query_id")
    )


ERR_GMAX_DENOM = 8.0  # 2^gmax with gmax = 3


def err_eval(
    docs_df: DataFrame,
    queries: list[tuple[int, list[str], str]],
    k: int = 20,
) -> DataFrame:
    """Expected Reciprocal Rank @ k per query (Chapelle et al.
    CIKM'09) — the cascade-model metric next to AP (:func:`
    avg_precision_eval`) and RBP (:func:`rbp_eval`): the user scans
    down, stops at a doc with probability ``R_r = (2^g - 1)/2^gmax``,
    and ERR is the expected reciprocal stopping rank
    ``sum_r (1/r) * R_r * prod_{i<r} (1 - R_i)``. GRADED judgments,
    derived deterministically: g = min(tf(marker in doc), 3), gmax=3,
    so R is a dyadic in {0, 1/8, 3/8, 7/8}.

    Float determinism: ERR is inherently sequential (the survival
    product), so it is computed as ONE rank-ordered left fold over
    the collected top-k list with a (err, survival) struct
    accumulator — the ndcg_eval discipline — making every double op
    IEEE-identical cross-engine; round(6) at emit.

    Scale shape: the :func:`_multi_query_scores` one-postings-pass
    plan; the fold runs over k-row collected lists (post-limit), one
    row out per query."""
    ranked = _rank_within(_multi_query_scores(docs_df, queries), k).select(
        "query_id", "doc_id", "rank"
    )
    grades = _marker_postings(docs_df, queries).select(
        "query_id", "doc_id", F.least("tf", F.lit(3)).alias("g")
    )
    judged = (
        ranked.join(grades, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "rank",
            (
                (
                    F.expr(
                        "CAST(shiftleft(1, CAST(coalesce(g, 0) AS INT))"
                        " AS DOUBLE)"
                    )
                    - F.lit(1.0)
                )
                / F.lit(ERR_GMAX_DENOM)
            ).alias("R"),
        )
    )
    folded = judged.groupBy("query_id").agg(
        F.count(F.when(F.col("R") > 0, 1)).cast("long").alias("n_graded"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "rank",
                        (F.col("R") / F.col("rank").cast("double")).alias(
                            "rr"
                        ),
                        F.col("R").alias("r_stop"),
                    )
                )
            ),
            F.struct(
                F.lit(0.0).alias("e"), F.lit(1.0).alias("p")
            ),
            lambda acc, x: F.struct(
                (acc["e"] + acc["p"] * x["rr"]).alias("e"),
                (acc["p"] * (F.lit(1.0) - x["r_stop"])).alias("p"),
            ),
        )["e"].alias("err_raw"),
    )
    return folded.select(
        "query_id",
        "n_graded",
        F.round("err_raw", 6).alias("err"),
    ).orderBy("query_id")


def ndcg_eval(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    marker_hi: str,
    marker_lo: str,
) -> DataFrame:
    """ES _rank_eval `dcg` metric: nDCG@k of the BM25 top-k against
    GRADED judgments - rel = 2*(doc contains marker_hi) + (doc contains
    marker_lo), gains (2^rel - 1) read from a 4-entry lookup table (no
    libm pow). Position discounts 1/log2(p+1) enter BOTH engines as the
    same shortest-repr double LITERALS (computed once in Python), and
    DCG and IDCG are sequential rank-ordered folds over the k-row
    collected list, so every double op is IEEE-identical cross-engine.
    One row out: dcg, idcg, ndcg (round 6).

    Scale: the only global structure is the top-k itself (TakeOrdered);
    the judgment joins touch a k-row frame. Ref analog: the reference's
    count-reconciliation checks are its only quality gate
    (extractor/init.go:44-126); nDCG is the ranking-quality counterpart
    a search team regresses in CI."""
    w = [1.0 / math.log2(p + 1) for p in range(1, k + 1)]
    warr = F.array(*[F.lit(x) for x in w])
    gains_tbl = F.array(F.lit(0), F.lit(1), F.lit(3), F.lit(7))
    order = [F.desc("score"), F.asc("doc_id")]
    ranked = (
        bm25_scores_from_corpus(docs_df, terms)
        .orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )
    post = exact_postings(tokenized_docs(docs_df))
    hi = (
        post.where(F.col("term") == marker_hi)
        .select("doc_id").distinct().withColumn("h", F.lit(1))
    )
    lo = (
        post.where(F.col("term") == marker_lo)
        .select("doc_id").distinct().withColumn("l", F.lit(1))
    )
    rel = F.coalesce("h", F.lit(0)) * 2 + F.coalesce("l", F.lit(0))
    g = (
        ranked.join(hi, "doc_id", "left")
        .join(lo, "doc_id", "left")
        .select("rank", F.element_at(gains_tbl, rel + 1).alias("gain"))
    )
    one = g.agg(
        F.sort_array(F.collect_list(F.struct("rank", "gain"))).alias(
            "by_rank"
        ),
        F.sort_array(F.collect_list("gain"), asc=False).alias("gains_desc"),
    )
    dcg = F.aggregate(
        F.col("by_rank"),
        F.lit(0.0),
        lambda acc, x: acc
        + x["gain"].cast("double") * F.element_at(warr, x["rank"]),
    )
    idcg = F.aggregate(
        F.zip_with(
            F.col("gains_desc").cast("array<double>"),
            F.slice(warr, F.lit(1), F.size("gains_desc")),
            lambda gg, ww: gg * ww,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return one.select(
        F.round(dcg, 6).alias("dcg"),
        F.round(idcg, 6).alias("idcg"),
        F.round(
            F.when(idcg > 0, dcg / idcg).otherwise(F.lit(0.0)), 6
        ).alias("ndcg"),
    )

def terms_set_topk(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    required_expr: str = "CASE WHEN lang = 'en' THEN 3 ELSE 2 END",
) -> DataFrame:
    """ES ``terms_set`` query: like ``terms`` with
    ``minimum_should_match_field`` — the number of terms a doc must match
    comes from a PER-DOC expression (ES reads a stored numeric field;
    here any SQL expression over the doc's metadata), and eligible docs
    score as the ordinary BM25 bag over their matched terms. The
    "skills-matching" query shape (match >= doc.required_skills of the
    requested skills).

    One pass over the query terms' postings (shared contribution frame),
    the per-doc matched count rides the same groupBy that sums the
    score, and the required threshold joins in from the docs table —
    map-side combined, no second scan."""
    contribs = bm25_contribs_from_corpus(docs_df, terms)
    per_doc = contribs.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    gated = per_doc.join(
        docs_df.select(
            "doc_id", F.expr(required_expr).alias("required")
        ),
        "doc_id",
    ).where(F.col("n_matched") >= F.col("required"))
    return _merge_topk(gated, k)


def bm25_topk_synonyms(
    spark: SparkSession,
    docs_df: DataFrame,
    groups: list[list[str]],
    k: int,
) -> DataFrame:
    """ES query-time synonyms (``synonym_graph`` filter → Lucene
    ``SynonymQuery`` / BlendedTermQuery): each group of synonyms scores
    as ONE pseudo-term — per-doc tf is the SUM over members, df is
    BLENDED as the MAX of member dfs (Lucene's blend; a union-df would
    under-weight rare synonyms), so "fast" and its synonym hit the same
    scoring slot instead of double-counting. The relevance feature every
    search team ships in week two.

    One pass over the member terms' postings: the term→group map
    broadcasts, the (group, doc) rollup rides the same shuffle as the
    per-doc sum, and blended dfs come from the corpus-global term stats
    frame (also broadcast — it is |members| rows). Absent members blend
    df=0 and simply never contribute tf."""
    pairs = [
        (gi, t)
        for gi, g in enumerate(groups)
        for t in sorted({str(x) for x in g})
    ]
    if not pairs:
        return spark.createDataFrame([], TOPK_SCHEMA)
    gmap = spark.createDataFrame(pairs, "gid int, term string")
    tok = tokenized_docs(docs_df)
    stats = corpus_stats(tok)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    post = exact_postings(tok)
    terms = sorted({t for _, t in pairs})
    tstats = (
        post.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("term").isin(terms))
    )
    gdf = (
        gmap.join(tstats, "term", "left")
        .groupBy("gid")
        .agg(F.max(F.coalesce("df", F.lit(0))).alias("df"))
        .where(F.col("df") > 0)
    )
    per_group = (
        post.where(F.col("term").isin(terms))
        .join(F.broadcast(gmap), "term")
        .groupBy("gid", "doc_id", "doclen")
        .agg(F.sum("tf").alias("tf"))
    )
    idf_expr = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    contrib = per_group.join(F.broadcast(gdf), "gid").select(
        "doc_id",
        (
            idf_expr
            * (
                F.col("tf")
                / (
                    F.col("tf")
                    + F.lit(bm25.K1)
                    * (
                        F.lit(1.0 - bm25.B)
                        + F.lit(bm25.B) * F.col("doclen") / F.lit(avgdl)
                    )
                )
            )
        ).alias("contrib"),
    )
    return _merge_topk(
        contrib.groupBy("doc_id").agg(F.sum("contrib").alias("score")), k
    )


def constant_score_page(
    docs_df: DataFrame, terms: list[str], k: int, boost: float = 1.0
) -> DataFrame:
    """ES ``constant_score``: wrap a filter, give every match the same
    score (= boost) — the "I want filtering, not relevance" query that
    also skips all scoring cost. Matches are the bool-must set; ordering
    degenerates to the doc_id tie-break, so this is a scored spelling of
    the first scroll page."""
    uniq = sorted(set(terms))
    post = exact_postings(tokenized_docs(docs_df))
    matched = (
        post.where(F.col("term").isin(uniq))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == len(uniq))
    )
    return (
        matched.orderBy("doc_id")
        .limit(k)
        .select("doc_id", F.lit(float(boost)).alias("score"))
    )


def bm25_topk_min_score(
    docs_df: DataFrame, terms: list[str], k: int, min_score: float
) -> DataFrame:
    """ES ``min_score``: drop hits scoring below the floor BEFORE the
    top-k (the relevance-threshold guard on "no results is better than
    bad results" pages). The floor compares RAW scores — rounding only
    at emit, like every other ordering decision."""
    scores = bm25_scores_from_corpus(docs_df, terms)
    return _merge_topk(
        scores.where(F.col("score") >= F.lit(float(min_score))), k
    )


def scroll_page(
    docs_df: DataFrame,
    terms: list[str],
    page_size: int,
    after_doc_id: int = -1,
) -> DataFrame:
    """ES ``scroll`` / ``search_after`` with ``sort: _doc`` — the bulk
    export/reindex shape: every doc matching a bool-must term query, in
    stable doc_id order, keyset-paginated (``doc_id > cursor``). No
    scoring, no heap; ES deprecated scroll in favour of exactly this
    search_after-on-_doc pattern.

    One page is a pushed range+membership scan: the ``doc_id >`` keyset
    predicate prunes row groups (doc_ids are write-ordered), the per-doc
    distinct-matched-term count gates bool-must, and only page_size rows
    survive to the driver. A FULL export at 100 TB is the same plan with
    the limit dropped and a ``repartitionByRange("doc_id").write`` —
    keyset order costs nothing because the data is already id-ordered."""
    uniq = sorted(set(terms))
    post = exact_postings(tokenized_docs(docs_df))
    matched = (
        post.where(F.col("term").isin(uniq))
        .where(F.col("doc_id") > after_doc_id)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == len(uniq))
    )
    return (
        matched.join(docs_df.select("doc_id", "source", "lang"), "doc_id")
        .orderBy("doc_id")
        .limit(page_size)
        .select("doc_id", "source", "lang")
    )


def sort_topk(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    field: str = "n_chars",
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """ES field sort: ``query`` (bool-must filter context, no scoring) +
    ``sort: [{field: desc}, {_id: asc}]`` — the recency/size-feed shape
    every listing page uses — with optional ``search_after`` keyset
    cursor ``(field_value, doc_id)``.

    The keyset predicate ``field < v OR (field = v AND doc_id > d)`` is
    a deterministic metadata filter, so it reaches the docs scan
    (min/max row-group pruning on a sorted/clustered field); the match
    gate is the same per-doc distinct-term count as scroll/_count. Only
    k rows survive to the driver at ANY cursor depth — the reason ES
    caps ``from`` but serves unbounded search_after, reproduced here by
    construction."""
    uniq = sorted(set(terms))
    post = exact_postings(tokenized_docs(docs_df))
    matched = (
        post.where(F.col("term").isin(uniq))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == len(uniq))
    )
    sel = docs_df.select("doc_id", field)
    if after is not None:
        v, d = after
        sel = sel.where(
            (F.col(field) < F.lit(v))
            | ((F.col(field) == F.lit(v)) & (F.col("doc_id") > int(d)))
        )
    return (
        matched.join(sel, "doc_id")
        .orderBy(F.desc(field), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", field)
    )


def analyze_text(spark: SparkSession, text: str) -> DataFrame:
    """ES ``_analyze`` API: run the index's analyzer over a literal
    string and return (position, token) — the first endpoint anyone
    hits when debugging "why doesn't my query match". Uses the ONE
    tokenizer expression every other operator shares (`tokens_col`), so
    what this returns is by construction what the index stores."""
    from unichem2index_spark.functions.tokenize import tokens_col

    return (
        spark.createDataFrame([(text,)], "text string")
        .select(F.posexplode(tokens_col("text")).alias("position", "token"))
        .orderBy("position")
    )


def mget(docs_df: DataFrame, doc_ids: list[int]) -> DataFrame:
    """ES ``_mget``: fetch a batch of docs by id — the point-lookup
    API behind every "hydrate the top-k" step. The id list is a pushed
    ``IN`` filter (row-group pruning on the write-ordered doc_id
    column); missing ids are simply absent, as in ES's per-doc
    found=false."""
    ids = sorted({int(d) for d in doc_ids})
    return (
        docs_df.where(F.col("doc_id").isin(ids))
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


def term_vectors(docs_df: DataFrame, doc_id: int) -> DataFrame:
    """ES ``_termvectors`` (term_statistics=true): for ONE doc, every
    term with its in-doc tf, its 0-based token positions, and the
    corpus-wide df / ttf (total term frequency) — the relevance-debugging
    twin of ``_explain``, and the raw material for more_like_this.

    The doc's row is a doc_id-pruned scan; df/ttf come from ONE
    corpus-global postings aggregation (the same frame every scorer
    shares, so the numbers agree with _explain / term_stats). Positions
    are collected per (doc, term) with ``sort_array`` for a deterministic
    emit, then serialized to a comma-joined string — the repo-wide
    convention for list outputs (see group_collect), which keeps the
    result canonicalizable by pandas-based comparators."""
    tok = tokenized_docs(docs_df)
    pos = (
        tok.where(F.col("doc_id") == doc_id)
        .select(F.posexplode("tokens").alias("p", "term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("p")).alias("positions"),
        )
    )
    post = exact_postings(tok)
    tstats = post.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
    )
    # Broadcast the ONE doc's term list into the corpus-global stats
    # frame (never the reverse — the full vocabulary doesn't broadcast
    # at 100 TB; a single doc's distinct terms always do).
    return (
        tstats.join(F.broadcast(pos), "term")
        .select(
            "term",
            "tf",
            "df",
            F.col("ttf").cast("long").alias("ttf"),
            F.concat_ws(
                ",", F.transform("positions", lambda p: p.cast("string"))
            ).alias("positions"),
        )
        .orderBy("term")
    )


_NO_HIT = 2**31  # sentinel "term absent" position for the least() fold


def highlight_topk(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    before: int = 20,
    width: int = 50,
) -> DataFrame:
    """ES ``highlight`` analog (plain highlighter, fragment_size=width,
    number_of_fragments=1): for each top-k hit, the earliest occurrence
    of any query term in the lowercased body picks the matched term
    (position asc, then term asc — deterministic) and centers a fixed
    fragment. Substring-level matching, like the plain highlighter's
    re-analysis of the stored field.

    Scale shape: snippets are computed ONLY for the k winners — the
    docs-table join is k rows against a pushed doc_id lookup, never a
    corpus-wide string scan. All string ops are JVM expressions
    (whole-stage codegen), no Python."""
    uniq = sorted(set(terms))
    top = bm25_topk_exact(docs_df, terms, k)
    joined = top.join(docs_df.select("doc_id", "text"), "doc_id")
    low = F.lower(F.col("text"))
    pos = {
        t: F.when(F.instr(low, F.lit(t)) == 0, F.lit(_NO_HIT)).otherwise(
            F.instr(low, F.lit(t))
        )
        for t in uniq
    }
    best = F.least(*pos.values()) if len(pos) > 1 else next(iter(pos.values()))
    matched = F.lit(None).cast("string")
    for t in reversed(uniq):  # build CASE so FIRST (asc) term wins ties
        matched = F.when(pos[t] == best, F.lit(t)).otherwise(matched)
    return (
        joined.select(
            "doc_id",
            "score",
            F.when(best == _NO_HIT, F.lit(None)).otherwise(matched).alias(
                "matched_term"
            ),
            F.when(best == _NO_HIT, F.lit(None))
            .otherwise(
                F.substring(
                    F.col("text"),
                    F.greatest(F.lit(1), best - F.lit(before)),
                    width,
                )
            )
            .alias("snippet"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


# --------------------------------------------------------------------------
# Block-max WAND over compressed segments
# --------------------------------------------------------------------------
@dataclass
class IndexHandle:
    store: SegmentStore
    n_docs: int
    avgdl: float
    n_shards: int
    generations: list[int] | None = None
    has_positions: bool = False
    _segments_cached: DataFrame | None = None
    _deletes_cached: DataFrame | None = None
    # per column list: the cached projection and its _shard_refs
    _projections: dict[tuple[str, ...], tuple] = field(default_factory=dict)
    _deletes_refs: tuple | None = None

    @staticmethod
    def open(
        spark: SparkSession, index_dir: str, cache: bool = False
    ) -> "IndexHandle":
        """A handle on the index as committed at open time: generations,
        n_docs and avgdl come from the manifest read here, so rows of a
        generation committed later are never read through it.

        ``cache=True`` pins the segment rows (with their ``idf`` column)
        and the (shard, doc_id) tombstones in executor memory for a
        query-serving session (the ES hot-index analog), both
        hash-partitioned by shard like every query kernel's grouping: a
        hot call is then one exchange-free Spark job, with no parquet
        scan, idf lookup or tombstone read of its own. The cached idf and
        tombstones are those of open time too; an uncached handle reads
        term_stats anew on each call. Each kernel's column projection of
        the cached rows, and the column references a per-shard UDF takes,
        are built once (:meth:`cached_projection`). Call :meth:`close` to
        release."""
        store = SegmentStore(index_dir)
        mf = store.read_manifest()
        h = IndexHandle(
            store,
            mf["n_docs"],
            mf["avgdl"],
            mf["n_shards"],
            mf.get("generations", [0]),
            bool(mf.get("positions", False)),
        )
        if cache:
            # Cache PRE-PARTITIONED by shard: every query path ends in
            # groupBy("shard").applyInArrow (or a cogroup with the
            # tombstones), and a cached HashPartitioning(shard, n) is
            # reused by that grouping — the per-request plan becomes ONE
            # exchange-free stage (TakeOrdered <- FlatMapGroupsInArrow
            # <- Sort(local) <- Filter <- InMemoryTableScan). Without it
            # every query pays a shuffle that AQE's bytes-based
            # coalescing then collapses to a SINGLE partition (the
            # posting blocks are a few KB, but the per-shard Python
            # kernel cost is invisible to byte stats) — measured 2x on
            # the hot 20-query set and 2.6x on the batch path at sf0.1.
            seg, dele = h.segments(spark), h._tombstones(spark)
            h._segments_cached = seg.persist()
            h._segments_cached.count()  # materialize eagerly
            if dele is not None:
                h._deletes_cached = dele.persist()
                h._deletes_cached.count()
                h._deletes_refs = _shard_refs(dele, ["shard", "doc_id"])
        return h

    def close(self) -> None:
        for df in (self._segments_cached, self._deletes_cached):
            if df is not None:
                df.unpersist()
        self._segments_cached = self._deletes_cached = None
        self._deletes_refs = None
        self._projections.clear()

    @property
    def multi_gen(self) -> bool:
        return len(self.generations or [0]) > 1

    def _shard_partitions(self, spark: SparkSession) -> int:
        """Explicit partition count for the (shard)-keyed exchange every
        query kernel groups by: bounded by the shard count (a group
        cannot split) and by the cluster's core count (more would only
        add empty tasks). Scale-adaptive, no constant tuned to either
        local mode or a cluster."""
        return max(1, min(self.n_shards, spark.sparkContext.defaultParallelism))

    def segments(self, spark: SparkSession) -> DataFrame:
        """Committed generations only: partitions written by an in-flight
        or crashed update are pruned by the gen filter.

        Each row carries its term's ``idf`` from a left join of
        ``term_stats(term, idf)`` — one row per term, so the row count is
        the segment table's; a term with no stats row gets a null idf,
        which every kernel reads as "term absent" (the ES term-dictionary
        analog: docFreq sits beside the postings pointer, so no query
        needs a separate stats lookup). The join precedes the shard
        repartition, so the cached frame keeps its partitioning; a
        ``term IN`` filter on top is pushed into both scans.

        Always returned hash-partitioned by ``shard`` with an EXPLICIT
        partition count (REPARTITION_BY_NUM): every consumer groups by
        shard for a per-shard Python kernel, and without the pin AQE's
        bytes-based coalescing folds the tiny posting-block shuffle into
        ONE partition, serializing the whole kernel (same blind spot as
        the dedup band join — the byte stats can't see per-row Python
        cost; measured 32-shards-in-1-task on the 20-query batch).
        Term filters applied on top are pushed below the repartition by
        Catalyst, so predicate pushdown to parquet is unaffected."""
        if self._segments_cached is not None:
            return self._segments_cached
        idf = self.term_stats(spark).select("term", "idf")
        return (
            self.store.read_committed(spark, "segments", self.generations or [0])
            .join(idf, "term", "left")
            .repartition(self._shard_partitions(spark), "shard")
        )

    def cached_projection(self, cols: list[str]) -> DataFrame:
        """The cached segment rows pruned to ``cols``, one DataFrame per
        column list for the handle's life: a hot call filters it by term
        instead of building and analysing a fresh projection. Same
        physical plan as ``segments().where(...).select(*cols)``."""
        return self._projection(cols)[0]

    def _projection(self, cols: list[str]) -> tuple:
        """:meth:`cached_projection` and its :func:`_shard_refs`."""
        key = tuple(cols)
        hit = self._projections.get(key)
        if hit is None:
            proj = self._segments_cached.select(*cols)
            hit = self._projections[key] = (proj, _shard_refs(proj, cols))
        return hit

    def _scan(self, spark: SparkSession, terms, cols: list[str]) -> tuple:
        """The segment rows of ``terms`` (with their ``idf``) pruned to
        ``cols``, and their :func:`_shard_refs`; on a cached handle the
        projection and its references are built once, so the term filter
        is the scan's only JVM call."""
        if self._segments_cached is None:
            frame = self.segments(spark).select(*cols)
            refs = _shard_refs(frame, cols)
        else:
            frame, refs = self._projection(cols)
        return frame.where(_term_in(terms)), refs

    def term_stats(self, spark: SparkSession) -> DataFrame:
        return self.store.read(spark, "term_stats")

    def docs(self, spark: SparkSession) -> DataFrame:
        d = self.store.read_committed(
            spark, "docs", self.generations or [0]
        ).drop("gen")
        return self._drop_deleted(spark, d)

    def deletes(self, spark: SparkSession) -> DataFrame | None:
        """Committed tombstones as a (doc_id) DataFrame; None if the index
        has no deletes table. Never collected to the driver."""
        if not self.store.exists("deletes"):
            return None
        return self.store.read_committed(
            spark, "deletes", self.generations or [0]
        ).select("doc_id")

    def _tombstones(self, spark: SparkSession) -> DataFrame | None:
        """(shard, doc_id) tombstones partitioned like :meth:`segments`,
        or None when the index has none; a cached handle's own frame."""
        if self._segments_cached is not None:
            return self._deletes_cached
        dele = self.deletes(spark)
        if dele is None:
            return None
        return dele.select(self._shard_col(), "doc_id").repartition(
            self._shard_partitions(spark), "shard"
        )

    def deletes_by_shard(self, spark: SparkSession) -> DataFrame:
        """(shard, doc_id) tombstones for per-shard cogrouping — the
        executor-side analog of Lucene's per-segment live-docs bitmap
        (shard = doc_id % n_shards, the index's doc-sharding function).
        Empty DataFrame when the index has no tombstones."""
        dele = self._tombstones(spark)
        if dele is None:
            return spark.createDataFrame([], "shard int, doc_id long")
        return dele

    def _shard_col(self):
        """The index's doc-sharding function, as a ``shard`` column."""
        return (F.col("doc_id") % self.n_shards).cast("int").alias("shard")

    def deleted_ids(self, spark: SparkSession) -> frozenset[int]:
        """Diagnostics/test helper ONLY (drivers a collect): the query and
        update paths use :meth:`deletes` / :meth:`deletes_by_shard`."""
        dele = self.deletes(spark)
        if dele is None:
            return frozenset()
        return frozenset(r.doc_id for r in dele.collect())

    def _drop_deleted(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        dele = self.deletes(spark)
        if dele is None:
            return df
        # No broadcast hint: AQE broadcasts small tombstone sets, shuffle
        # anti-joins the 10^8-row update waves that would OOM a driver.
        return df.join(dele, "doc_id", "left_anti")

    def per_shard(
        self,
        spark: SparkSession,
        terms,
        cols: list[str],
        kernel,
        schema: T.StructType,
        side: DataFrame | None = None,
    ) -> DataFrame:
        """The per-shard execution path of every index-backed query: the
        segment rows of ``terms`` (with their ``idf``) pruned to ``cols``,
        grouped by shard, ``kernel`` run once per shard on a
        ``pyarrow.Table`` of the shard's rows, its rows (tuples in
        ``schema`` order) out.

        ``kernel(tbl, deleted)`` gets the shard's rows and its tombstone
        frozenset — cogrouped per shard (the doc-sharded live-docs bitmap
        analog), so the delete set never reaches the driver or a UDF
        closure. With ``side`` (a (shard, doc_id, ...) frame that folds
        the tombstones in itself) the kernel gets the shard's rows of that
        frame, as a second table, instead.

        The plan is ``groupBy("shard").applyInArrow`` (a cogroup with the
        tombstones or ``side``), built from column references the handle
        holds: a hot call authors it in a few JVM calls, and the worker
        hands the kernel Arrow columns with no pandas conversion at
        either end."""
        seg, (by_shard, args) = self._scan(spark, terms, cols)
        out = to_arrow_schema(schema)
        if side is None:
            side = self._tombstones(spark)
            if side is None:
                # Never-updated index: skip the cogroup's extra (empty)
                # grouped side — per-query latency, the serving hot path.
                def grouped(tbl):
                    return _arrow_rows(kernel(tbl, frozenset()), out)

                udf = _arrow_udf(grouped, schema, _GROUPED_ARROW, args)
                jdf = seg._jdf.groupBy(by_shard).flatMapGroupsInArrow(udf)
                return DataFrame(jdf, spark)
            side_by, side_args = (
                self._deletes_refs
                if side is self._deletes_cached
                else _shard_refs(side, ["shard", "doc_id"])
            )

            def cogrouped(tbl, dele):
                ids = frozenset(dele.column("doc_id").to_pylist())
                return _arrow_rows(kernel(tbl, ids) if tbl.num_rows else (), out)

        else:
            side_by, side_args = _shard_refs(side, side.columns)

            def cogrouped(tbl, side_tbl):
                # a cogrouped shard can have side rows but no query terms
                rows = kernel(tbl, side_tbl) if tbl.num_rows else ()
                return _arrow_rows(rows, out)

        udf = _arrow_udf(
            cogrouped, schema, _COGROUPED_ARROW, args.concat(side_args)
        )
        jdf = seg._jdf.groupBy(by_shard).flatMapCoGroupsInArrow(
            side._jdf.groupBy(side_by), udf
        )
        return DataFrame(jdf, spark)


_GROUPED_ARROW = PythonEvalType.SQL_GROUPED_MAP_ARROW_UDF
_COGROUPED_ARROW = PythonEvalType.SQL_COGROUPED_MAP_ARROW_UDF


def _shard_refs(df: DataFrame, cols: list[str]) -> tuple:
    """Scala Seqs of references to ``df``'s ``shard`` column and to its
    columns ``cols``: the grouping key and the arguments of a per-shard
    UDF over ``df`` or over a filter of it."""
    jdf = df._jdf
    return _jseq([jdf.apply("shard")]), _jseq([jdf.apply(c) for c in cols])


def _arrow_udf(fn, schema: T.StructType, eval_type: int, args):
    """The JVM column of a grouped (or cogrouped) Arrow UDF ``fn`` over
    the column references ``args``: what ``applyInArrow`` builds, without
    looking every column up by name and with the JVM UDF class and the
    parsed return type held per session."""
    sc = SparkContext._active_spark_context
    make, jdt = _jvm_cached("arrow_udf:" + schema.json(), lambda: (
        getattr(sc._jvm, "org.apache.spark.sql.execution.python.UserDefinedPythonFunction"),
        sc._jvm.org.apache.spark.sql.types.DataType.fromJson(schema.json()),
    ))
    func = _wrap_function(sc, fn, schema)
    return make("per_shard", func, jdt, eval_type, True).apply(args)


def _arrow_rows(rows, schema: pa.Schema) -> pa.Table:
    """A kernel's row tuples as a table of ``schema``."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _term_in(terms) -> str:
    """``term IN (...)`` as one SQL string, so the filter is one JVM call
    whatever the number of terms. Each term is its UTF-8 bytes as a hex
    literal cast to string: no term text reaches the SQL parser, so no
    quote, backslash or injection-shaped term can change the parse.
    Constant folding turns the casts back into string literals, so the
    filter is still the In/InSet the cached scan and parquet prune by."""
    if not terms:
        return "false"
    lits = (f"CAST(X'{t.encode().hex()}' AS STRING)" for t in terms)
    return f"term IN ({', '.join(lits)})"


def _collect_idfs(
    spark: SparkSession, index: IndexHandle, terms: list[str]
) -> dict[str, float]:
    """idf per term that has a term_stats row, collected to the driver.
    Kernels read idf from their shard's segment rows instead; this helper
    serves only planners that choose terms or blend idfs across terms
    before the plan exists:

    * :func:`more_like_this` picks the source doc's top terms by tf·idf;
    * :func:`span_near_or_topk` scores each group with its members'
      minimum idf, which one shard cannot know;
    * :func:`match_phrase_prefix_topk` does the same for its expansion
      group."""
    ts = (
        index.term_stats(spark)
        .where(F.col("term").isin(sorted(set(terms))))
        .select("term", "idf")
        .collect()
    )
    return {r.term: float(r.idf) for r in ts}


# A shard's grouping and sort columns: no kernel reads them per term.
_SORT_KEYS = ("shard", "term", "gen", "block_id")


def _term_rows(tbl: pa.Table) -> dict[str, dict[str, list]]:
    """A shard's segment rows by term, in term order: each term's columns
    as Python lists, rows in (gen, block_id) order. One Arrow sort, one
    ``to_pylist`` per column, then list slices per term: no pandas and no
    per-cell conversion."""
    tbl = tbl.sort_by([("term", "ascending"), ("gen", "ascending"),
                       ("block_id", "ascending")])
    terms = tbl.column("term").to_pylist()
    cols = {
        c: tbl.column(c).to_pylist()
        for c in tbl.column_names
        if c not in _SORT_KEYS
    }
    out, start = {}, 0
    for t in sorted(set(terms)):
        end = bisect_right(terms, t, start)
        out[t] = {c: v[start:end] for c, v in cols.items()}
        start = end
    return out


def _shard_idfs(rows: dict[str, dict[str, list]]) -> dict[str, float]:
    """idf per term of a shard's :func:`_term_rows`; a null idf (no
    term_stats row) leaves the term out: absent, never a lookup error."""
    return {t: r["idf"][0] for t, r in rows.items() if r["idf"][0] is not None}


# The WAND kernels read exactly these columns; pruning them out of the
# grouped Arrow transfer matters on POSITIONAL indexes, whose segments
# carry a positions blob the BM25 paths never touch.
_WAND_COLS = [
    "gen", "shard", "term", "idf", "block_id", "max_doc_id",
    "doc_gaps", "tfs", "dls", "block_max_tf", "block_min_dl",
    "block_max_score",
]


def _term_cursors(
    rows: dict[str, dict[str, list]],
    avgdl: float,
    use_stored_bounds: bool,
    boosts: dict[str, float] | None = None,
) -> dict[str, TermBlocks]:
    """One cursor per term of a shard's :func:`_term_rows`, in term
    order, at the rows' idf times the term's boost. Terms with a null idf
    are skipped: a segment term with no term_stats row is absent from the
    query, never a lookup error."""
    boosts = boosts or {}
    cursors = {}
    for t, idf in _shard_idfs(rows).items():
        r, idf_t = rows[t], idf * float(boosts.get(t, 1.0))
        if use_stored_bounds:
            bounds = r["block_max_score"]
        else:
            bounds = [
                bm25.max_score_bound(mt, md, avgdl, idf_t)
                for mt, md in zip(r["block_max_tf"], r["block_min_dl"])
            ]
        cursors[t] = TermBlocks(
            term=t,
            idf=idf_t,
            max_doc_ids=r["max_doc_id"],
            block_max_scores=bounds,
            enc_blocks=list(zip(r["doc_gaps"], r["tfs"], r["dls"])),
        )
    return cursors


def _per_shard_wand(
    spark: SparkSession,
    index: IndexHandle,
    terms,
    depth: int,
    min_match: int = 1,
    after: tuple[float, int] | None = None,
    use_stored_bounds: bool | None = None,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """Raw per-shard WAND candidates (doc_id, UNROUNDED score): the shared
    tail of every WAND query — pushed ``term IN`` segment scan, tombstone
    cogroup, per-shard kernel, n_shards·depth rows out.

    ``use_stored_bounds=False`` (multi-generation / post-update indexes):
    stored block_max_score was computed with build-time idf/avgdl, which
    drift as generations are added — recompute a safe bound from the
    monotone pair (block_max_tf, block_min_dl) under CURRENT stats instead.
    Exact rescoring always uses current stats either way.
    """
    if use_stored_bounds is None:
        use_stored_bounds = not index.multi_gen
    avgdl = index.avgdl

    def fn(tbl, deleted: frozenset[int]):
        cursors = _term_cursors(_term_rows(tbl), avgdl, use_stored_bounds, boosts)
        return wand_topk(
            list(cursors.values()), avgdl, depth, deleted=deleted,
            min_match=min_match, after=after,
        )

    return index.per_shard(
        spark, sorted(set(terms)), _WAND_COLS, fn, TOPK_SCHEMA
    )


def bm25_topk_wand(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    min_match: int = 1,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """BM25 top-k via per-shard block-max WAND + global candidate merge.

    Rank- and score-identical to :func:`bm25_topk_exact` (same frozen
    formula, same tie-break); verified in tests against the Python oracle.
    Tombstones are cogrouped per shard (doc-sharded live-docs bitmap
    analog) — nothing about the delete set ever reaches the driver.

    ``min_match``: ES ``minimum_should_match`` — only docs containing at
    least this many distinct query terms are eligible (scores unchanged:
    ES counts should-clauses, it doesn't reweight them). Enforced inside
    the WAND kernel at evaluation time, so the block-skipping/pruning
    machinery is identical to the plain query; the batch path would take
    it per-query the same way. min_match=1 is exactly the plain query.

    ``boosts``: per-term multipliers (ES ``term^boost``) folded into each
    term's idf inside the kernel before its cursor is built, so scoring
    and pivot logic are untouched. Stored block bounds were computed with
    unboosted idf — a boost > 1 would make them under-estimates
    (inadmissible pruning) — so any boosted query recomputes bounds from
    the monotone (block_max_tf, block_min_dl) pair under the boosted idf,
    exactly the multi-generation fallback path.
    """
    if min_match > len(set(terms)):
        return spark.createDataFrame([], TOPK_SCHEMA)
    per_shard = _per_shard_wand(
        spark, index, terms, k, min_match=min_match,
        # stored bounds are tight AND valid only while stats match the
        # build (and the query is unboosted); any later generation or a
        # boosted term invalidates them.
        use_stored_bounds=not index.multi_gen and not boosts,
        boosts=boosts,
    )
    return _merge_topk(per_shard, k)


def bm25_topk_maxscore(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
) -> DataFrame:
    """BM25 top-k via the per-shard MaxScore kernel — the same serving
    plumbing as :func:`bm25_topk_wand` (term-pruned segment scan,
    tombstone cogroup, n_shards*k global merge) with the other of
    Lucene's two dynamic-pruning strategies underneath
    (``functions/wand.py::maxscore_topk``; Lucene picks MaxScore over
    WAND for long-postings disjunctions — ref delegates both to Lucene,
    extractor/loader.go:260-261). Rank- and score-identical to the
    exact path and to the WAND path (bit-equal full evaluations — both
    kernels accumulate in canonical term order), so the serving tier
    can choose per query shape without a visible ranking flip.

    Scale shape: identical to the WAND path — the kernel choice is
    per-shard-local and changes nothing about the scan, the shuffle, or
    the candidate merge."""
    use_stored = not index.multi_gen
    avgdl = index.avgdl

    def fn(tbl, deleted: frozenset[int]):
        cursors = _term_cursors(_term_rows(tbl), avgdl, use_stored)
        return maxscore_topk(list(cursors.values()), avgdl, k, deleted=deleted)

    per_shard = index.per_shard(
        spark, sorted(set(terms)), _WAND_COLS, fn, TOPK_SCHEMA
    )
    return _merge_topk(per_shard, k)


_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("k", T.IntegerType()),
    ]
)


def _merge_batch(per_shard: DataFrame) -> DataFrame:
    """Per-query top-k merge of a batch's per-shard candidates, each
    query's own k carried on its candidate rows. The <= n_shards * sum(k)
    rows move to ONE partition first (a shuffle, so the kernels upstream
    keep one task per shard partition): a single partition already
    satisfies the per-query window and the final sort, so neither adds
    an exchange or a range-sampling job of its own."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_shard.repartition(1)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("k"))
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.round("score", 6).alias("score"),
        )
        .orderBy("query_id", "rank")
    )


def bm25_topk_batch(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[dict],
) -> DataFrame:
    """Run a whole query set in ONE Spark job (high-QPS serving shape).

    ``queries``: [{"query_id": int, "terms": [...], "k": int}, ...].
    Returns (query_id, rank, doc_id, score), each query's top-k rank- and
    score-identical to :func:`bm25_topk_wand` run one-by-one.

    Scale shape: one pass over the union of all queries' posting lists per
    shard (segments scanned once with `term IN (union of terms)`), per-shard
    WAND per query inside a single applyInArrow stage, then one
    single-partition merge of the <= n_shards * sum(k) candidate rows.
    """
    all_terms = sorted({t for q in queries for t in q["terms"]})
    if not all_terms or not queries:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, score double"
        )
    qspec = [
        (int(q["query_id"]), sorted(set(q["terms"])), int(q["k"]))
        for q in queries
    ]
    avgdl = index.avgdl
    use_stored = not index.multi_gen

    def fn(tbl, deleted: frozenset[int]):
        # Build each term's cursor ONCE per shard, then hand every query
        # a cheap rewound clone: fresh() shares the immutable block lists
        # AND the decoded-block cache, so each block is varbyte-decoded
        # at most once per shard per batch instead of once per query.
        tmpl = _term_cursors(_term_rows(tbl), avgdl, use_stored)
        for qid, terms, k in qspec:
            # Fresh cursor state per query: wand_topk advances it.
            cursors = [tmpl[t].fresh() for t in terms if t in tmpl]
            for d, s in wand_topk(cursors, avgdl, k, deleted=deleted):
                yield qid, d, s, k

    return _merge_batch(
        index.per_shard(spark, all_terms, _WAND_COLS, fn, _BATCH_SCHEMA)
    )


def bm25_topk_filtered(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    predicate: str,
    mode: str = "auto",
    broad_threshold: float = 0.5,
) -> DataFrame:
    """BM25 top-k restricted to docs matching ``predicate`` (a SQL
    expression over the docs table's metadata columns: lang, source,
    doclen) — the ES bool query's ``must: match / filter: term`` shape,
    the first compound query an ES user writes.

    ES semantics preserved: the filter gates CANDIDATES only; idf/avgdl
    and per-doc scores are computed over the whole index, so a doc's
    score is identical with and without the filter.

    Scale shape: a per-shard id set is cogrouped into the WAND kernel —
    the Lucene per-segment filter-bitset analog; nothing reaches the
    driver. Which set depends on ``mode``:

    * ``"bitset"`` — ship the ALLOWED ids (docs matching the
      predicate). Per-shard memory O(matching docs): right for
      selective filters, the ES filter-context use case.
    * ``"complement"`` — ship the DISALLOWED ids (live docs failing the
      predicate, unioned with tombstones) through the kernel's
      ``deleted`` path. Same answer by construction; per-shard memory
      O(non-matching docs): right for broad filters ("everything except
      spam").
    * ``"auto"`` (default) — one skinny conditional agg over the docs
      table measures the match fraction and picks whichever side is
      smaller (``broad_threshold``); per-shard memory is thereby
      bounded by min(matching, non-matching) docs per shard.

    Both shapes are verified identical on broad predicates in
    tests/test_phrase.py::test_bm25_filtered_mode_equivalence.
    """
    # Null predicate results never match (SQL filter semantics): the
    # bitset side drops them, so the complement side must include them.
    match_flag = F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))
    if mode == "auto":
        row = index.docs(spark).agg(
            F.count(F.lit(1)).alias("n_live"),
            F.count(F.when(match_flag, 1)).alias("n_match"),
        ).collect()[0]
        frac = (row.n_match / row.n_live) if row.n_live else 0.0
        mode = "complement" if frac >= broad_threshold else "bitset"
    avgdl = index.avgdl
    use_stored = not index.multi_gen

    by_shard = index._shard_col()
    if mode == "complement":
        # docs() already dropped tombstones; add them back so the kernel
        # skips them too (the unfiltered path's deletes cogroup).
        side = index.docs(spark).where(~match_flag).select(
            by_shard, "doc_id"
        ).unionByName(index.deletes_by_shard(spark))
        id_kw = "deleted"
    elif mode == "bitset":
        # docs() already drops tombstoned ids, so the allowed set
        # subsumes the deletes cogroup of the unfiltered path.
        side = index.docs(spark).where(match_flag).select(by_shard, "doc_id")
        id_kw = "allowed"
    else:
        raise ValueError(f"unknown mode {mode!r}")

    def fn(tbl, side_tbl):
        ids = frozenset(side_tbl.column("doc_id").to_pylist())
        cursors = _term_cursors(_term_rows(tbl), avgdl, use_stored)
        return wand_topk(list(cursors.values()), avgdl, k, **{id_kw: ids})

    per_shard = index.per_shard(
        spark, sorted(set(terms)), _WAND_COLS, fn, TOPK_SCHEMA, side
    )
    return _merge_topk(per_shard, k)


def bm25_topk_field_boost_wand(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    field: str = "doclen",
    factor: float = 0.001,
) -> DataFrame:
    """``function_score`` field_value_factor SERVED THROUGH THE WAND
    KERNEL — the index-path twin of :func:`bm25_topk_field_boost`, and
    the proof of that function's scale note: because the multiplier
    ``ln(1 + factor * field)`` is bounded by its value at ``max(field)``,
    every block-max bound scaled by that constant stays admissible, so
    the kernel prunes on the MULTIPLIED scores and evaluates exactly —
    no rescore pass, no approximation, rank+score identical to the
    corpus path (pytest-verified).

    Scale shape: ``field`` is a column of the index's own docs table
    (the Lucene doc-values analog — ``doclen`` by default, the length
    norm every index stores); one skinny agg for ``max(field)``, then
    the per-shard multiplier frame (doc_id, m) cogroups into the kernel
    exactly like the filter bitset — nothing reaches the driver; m is
    computed with the JVM's ``log`` (the same engine the oracle's ln
    resolves to on this data, hash-verified). Docs absent from the map
    (tombstones — docs() drops them) are ineligible inside the kernel,
    so the deletes cogroup is subsumed."""
    import math as _math

    max_v = index.docs(spark).agg(F.max(field)).collect()[0][0]
    bound = _math.log(1.0 + float(factor) * float(max_v or 0.0))
    m_col = F.log(F.lit(1.0) + F.lit(float(factor)) * F.col(field))
    return _wand_mult_frame_topk(spark, index, terms, k, m_col, bound)


def bm25_topk_gauss_decay_wand(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    origin: float,
    denom: float,
    field: str = "doclen",
) -> DataFrame:
    """``function_score`` gauss decay SERVED THROUGH THE WAND KERNEL —
    the index-path twin of :func:`bm25_topk_gauss_decay`, on a docs-table
    field: ``score * exp(-(field - origin)^2 / denom)``. The decay is
    bounded by 1, so the stored block-max bounds are ALREADY admissible
    for the decayed scores (mult_bound=1 — no bound recompute at all);
    the per-doc multiplier cogroups in like the fvf frame. Exact decayed
    top-k, no rescore pass."""
    m_col = F.exp(
        -(
            (F.col(field) - F.lit(float(origin)))
            * (F.col(field) - F.lit(float(origin)))
        )
        / F.lit(float(denom))
    )
    return _wand_mult_frame_topk(spark, index, terms, k, m_col, 1.0)


def _wand_mult_frame_topk(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    m_col,
    bound: float,
) -> DataFrame:
    """Shared body of the kernel-served function_score family: score the
    query through WAND with a per-doc multiplier taken from a docs-table
    expression ``m_col`` (JVM-computed — the same float engine the SQL
    oracles resolve to), pruning on bounds scaled by ``bound``. The
    (doc_id, m) frame cogroups per shard like the filter bitset; docs
    absent from it (tombstones — docs() drops them) are ineligible, so
    the deletes cogroup is subsumed."""
    side = index.docs(spark).select(
        index._shard_col(), "doc_id", m_col.alias("m")
    )
    avgdl = index.avgdl
    use_stored = not index.multi_gen

    def fn(tbl, m_tbl):
        mult = dict(
            zip(m_tbl.column("doc_id").to_pylist(), m_tbl.column("m").to_pylist())
        )
        cursors = _term_cursors(_term_rows(tbl), avgdl, use_stored)
        return wand_topk(
            list(cursors.values()), avgdl, k, mult=mult, mult_bound=bound
        )

    per_shard = index.per_shard(
        spark, sorted(set(terms)), _WAND_COLS, fn, TOPK_SCHEMA, side
    )
    return _merge_topk(per_shard, k)


def bm25_topk_random_score_wand(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    seed: int = 0,
) -> DataFrame:
    """``function_score`` random_score SERVED THROUGH THE WAND KERNEL —
    the index-path twin of :func:`random_score_topk`. The jitter
    ``r(doc) = (((doc_id + seed) * 2654435761) mod 2^32) / 2^32`` is a
    closed-form function of doc_id alone and is bounded by 1, so it
    ships as a CALLABLE multiplier — no cogrouped frame, ZERO extra
    shuffle: the kernel computes r at evaluation time (exact integer mix
    + one IEEE divide, engine-identical to the SQL oracle's), and the
    stored bounds are already admissible (mult_bound=1). Tombstones
    still need the deletes path since a callable can't encode absence —
    the standard cogroup handles that."""
    avgdl = index.avgdl
    use_stored = not index.multi_gen
    s_int = int(seed)

    def fn(tbl, deleted: frozenset[int]):
        cursors = _term_cursors(_term_rows(tbl), avgdl, use_stored)
        return wand_topk(
            list(cursors.values()),
            avgdl,
            k,
            deleted=deleted,
            mult=lambda d: ((d + s_int) * _RS_MULT) % _RS_MOD / float(_RS_MOD),
            mult_bound=1.0,
        )

    per_shard = index.per_shard(
        spark, sorted(set(terms)), _WAND_COLS, fn, TOPK_SCHEMA
    )
    return _merge_topk(per_shard, k)


# --------------------------------------------------------------------------
# Bool must_not, term expansion (prefix / fuzzy), pagination
# --------------------------------------------------------------------------
def _doc_ids(rows: dict[str, list]) -> set[int]:
    """All doc_ids in one term's :func:`_term_rows` (decode-only, no
    scores)."""
    from unichem2index_spark.functions.codec import PostingBlock

    ids: set[int] = set()
    for blobs in zip(rows["doc_gaps"], rows["tfs"], rows["dls"]):
        ids.update(PostingBlock.decode(*blobs).doc_ids)
    return ids


def bm25_topk_must_not(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    exclude_terms: list[str],
    min_match: int = 1,
) -> DataFrame:
    """ES bool query ``must_not: term`` analog: BM25 top-k over ``terms``,
    excluding every doc that contains ANY of ``exclude_terms``. Exclusion
    wins over scoring (a term in both lists never yields a result doc),
    and — ES semantics — must_not is a filter context: surviving docs'
    scores are identical to the plain query's.

    Scale shape: the excluded terms ride the SAME pushed ``term IN``
    segment scan as the scoring terms (one scan, row-group pruned); per
    shard their postings decode into an exclusion set fed through the
    kernel's ``deleted`` path, unioned with the tombstone cogroup.
    Per-shard memory is O(Σ df_shard(excluded)) — right for the typical
    selective must_not term; a stopword-class exclusion should instead be
    modeled as a docs-table predicate via :func:`bm25_topk_filtered`'s
    complement mode, which bounds memory by the smaller side.
    """
    excl_set = frozenset(exclude_terms)
    scoring = sorted(set(terms) - excl_set)
    if not scoring:
        return spark.createDataFrame([], TOPK_SCHEMA)
    avgdl = index.avgdl
    use_stored = not index.multi_gen

    def fn(tbl, deleted: frozenset[int]):
        rows = _term_rows(tbl)
        excluded = set(deleted)
        for t in excl_set & rows.keys():
            excluded |= _doc_ids(rows[t])
        cursors = _term_cursors(
            {t: r for t, r in rows.items() if t in scoring}, avgdl, use_stored
        )
        return wand_topk(
            list(cursors.values()), avgdl, k, deleted=excluded,
            min_match=min_match,
        )

    per_shard = index.per_shard(
        spark, sorted(set(scoring) | excl_set), _WAND_COLS, fn, TOPK_SCHEMA
    )
    return _merge_topk(per_shard, k)


def expand_prefix(
    spark: SparkSession,
    index: IndexHandle,
    prefix: str,
    max_expansions: int = 50,
) -> list[str]:
    """ES prefix-query term expansion against the index's term dictionary:
    every term starting with ``prefix``, alphabetical, capped at
    ``max_expansions`` (ES caps at 50 by default too).

    Deterministic cap (term asc) — a documented divergence from ES's
    ``top_terms_N`` rewrite, which keeps the N highest-df terms; whenever
    the cap is not hit (the common case) the sets are identical.

    The dictionary scan pushes a StartsWith filter to the term_stats
    parquet scan; only ≤ max_expansions strings reach the driver."""
    rows = (
        index.term_stats(spark)
        .where(F.col("term").startswith(prefix))
        .select("term")
        .orderBy("term")
        .limit(max_expansions)
        .collect()
    )
    return [r.term for r in rows]


def expand_fuzzy(
    spark: SparkSession,
    index: IndexHandle,
    term: str,
    max_edits: int = 1,
    max_expansions: int = 50,
) -> list[str]:
    """ES fuzzy-query term expansion: dictionary terms within
    ``max_edits`` Levenshtein edits of ``term`` (including the exact term
    itself, distance 0 — ES fuzziness semantics), ordered (distance asc,
    term asc), capped at ``max_expansions``.

    Scale shape — same as the term suggester (textstats.term_suggest):
    a length-window prefilter then map-side JVM ``levenshtein`` against
    ONE literal over the term dictionary; no all-pairs anything. ES uses
    a Levenshtein automaton over the FST dictionary — equivalent output,
    different machinery."""
    qlen = len(term)
    rows = (
        index.term_stats(spark)
        .where(
            (F.length("term") >= qlen - max_edits)
            & (F.length("term") <= qlen + max_edits)
        )
        .select(
            "term", F.levenshtein(F.col("term"), F.lit(term)).alias("dist")
        )
        .where(F.col("dist") <= max_edits)
        .orderBy(F.asc("dist"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r.term for r in rows]


def bm25_topk_prefix(
    spark: SparkSession,
    index: IndexHandle,
    prefix: str,
    k: int,
    max_expansions: int = 50,
) -> DataFrame:
    """ES prefix query under the ``scoring_boolean`` rewrite: expand the
    prefix against the term dictionary, then BM25-OR over the expansions
    (each expanded term scores with its OWN idf — rare expansions
    naturally dominate). One extra tiny job for the expansion; the query
    itself is the standard WAND plan over ≤ max_expansions terms."""
    terms = expand_prefix(spark, index, prefix, max_expansions)
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    return bm25_topk_wand(spark, index, terms, k)


def bm25_topk_fuzzy(
    spark: SparkSession,
    index: IndexHandle,
    term: str,
    k: int,
    max_edits: int = 1,
    max_expansions: int = 50,
) -> DataFrame:
    """ES fuzzy query under the ``scoring_boolean`` rewrite: expansions
    within ``max_edits`` of ``term`` (exact term included), then BM25-OR
    over them. NOTE: plain per-term idf scoring — ES's default fuzzy
    rewrite (``blended``) takes the max df across expansions instead;
    this engine's semantics are the deterministic, SQL-expressible OR."""
    terms = expand_fuzzy(spark, index, term, max_edits, max_expansions)
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    return bm25_topk_wand(spark, index, terms, k)


def bm25_topk_paged(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    offset: int,
) -> DataFrame:
    """ES ``from``/``size`` pagination: ranks (offset, offset+k] of the
    BM25 result, with the global rank attached. Exactly ES's cost model —
    every shard evaluates top-(from+size), the coordinator merges and
    slices (deep pagination is intrinsically O(from+size) per shard; the
    ES cursor alternative, search_after, is the same query with a
    score/doc_id range predicate and offset 0).

    The slice happens on RAW scores (same total order the unpaged query
    sorts by), so page boundaries agree with the oracle's OFFSET slice
    even when two adjacent docs round to the same 6-dp score."""
    per_shard = _per_shard_wand(spark, index, terms, offset + k)
    # Global window over <= n_shards*(offset+k) candidate rows — the
    # coordinator-merge analog (single tiny partition by construction).
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_shard.withColumn("rank", F.row_number().over(w).cast("long"))
        .where((F.col("rank") > offset) & (F.col("rank") <= offset + k))
        .select("rank", "doc_id", F.round("score", 6).alias("score"))
        .orderBy("rank")
    )


def bm25_topk_multi_index(
    spark: SparkSession,
    indexes: list[tuple["IndexHandle", float]],
    terms: list[str],
    k: int,
) -> DataFrame:
    """ES multi-index search — the ``logs-*`` alias / ``indices_boost``
    shape: one query fanned across several physical indexes, each hit
    scored with ITS OWN index's statistics (ES semantics: scores are
    per-index and not renormalized), scaled by a per-index boost, then
    ONE global top-k merge with (score desc, index_id asc, doc_id asc)
    tie-breaks.

    Scale shape: each index contributes its standard per-shard WAND
    frame (pushed ``term IN`` scan, kernel top-k per shard, RAW scores),
    the union is n_indexes * n_shards * k candidate rows, and the boost
    multiply + round happen at the single tiny merge — indexes are
    searched fully in parallel, nothing cross-index touches an executor
    except the final candidate frame."""
    parts = []
    for i, (h, boost) in enumerate(indexes):
        parts.append(
            _per_shard_wand(spark, h, terms, k).select(
                F.lit(i).alias("index_id"),
                "doc_id",
                (F.col("score") * F.lit(float(boost))).alias("score"),
            )
        )
    if not parts:
        return spark.createDataFrame(
            [], "index_id int, doc_id long, score double"
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return (
        allp.orderBy(
            F.desc("score"), F.asc("index_id"), F.asc("doc_id")
        )
        .limit(k)
        .select("index_id", "doc_id", F.round("score", 6).alias("score"))
    )


def bm25_cursor_at(
    spark: SparkSession, index: IndexHandle, terms: list[str], rank: int
) -> tuple[float, int] | None:
    """The ``(raw_score, doc_id)`` sort values of the doc at global
    ``rank`` — what an ES client copies from the last hit of a page into
    the next request's ``search_after``. RAW score: the cursor must carry
    the engine's full sort precision (ES sends the unrounded float in
    the hit's ``sort`` array for the same reason); rounding it would
    mis-split ties at the page boundary. None if fewer than ``rank``
    docs match."""
    rows = (
        _per_shard_wand(spark, index, terms, rank)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(rank)
        .collect()
    )
    if len(rows) < rank:
        return None
    last = rows[-1]
    return (float(last.score), int(last.doc_id))


def bm25_topk_search_after(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    after: tuple[float, int],
) -> DataFrame:
    """ES ``search_after`` cursor pagination: the k docs ranked strictly
    after ``after = (raw_score, doc_id)`` in (score desc, doc_id asc)
    order. THE scalable deep-pagination shape — unlike ``from``/``size``
    (:func:`bm25_topk_paged`, O(from+size) heap per shard), every shard
    keeps a k-heap regardless of how deep the cursor is, which is exactly
    why ES caps ``from`` at 10k but serves unbounded search_after scans.

    The cursor rides into the kernel as an eligibility predicate
    (evaluate-then-discard, like Lucene's paging collector); bounds and
    block skipping are identical to the plain query."""
    return _merge_topk(_per_shard_wand(spark, index, terms, k, after=after), k)


def expand_wildcard(
    spark: SparkSession,
    index: IndexHandle,
    pattern: str,
    max_expansions: int = 50,
) -> list[str]:
    """ES wildcard-query term expansion: ``*`` = any run, ``?`` = one
    char, translated to a SQL LIKE over the term dictionary (terms are
    ``[a-z0-9]+`` so no LIKE metacharacters need escaping beyond the
    translation itself). Alphabetical, capped — same deterministic-cap
    divergence from ES's top_terms rewrite as :func:`expand_prefix`."""
    like = (
        pattern.replace("%", "\\%").replace("_", "\\_")
        .replace("*", "%").replace("?", "_")
    )
    rows = (
        index.term_stats(spark)
        .where(F.col("term").like(like))
        .select("term")
        .orderBy("term")
        .limit(max_expansions)
        .collect()
    )
    return [r.term for r in rows]


def bm25_topk_wildcard(
    spark: SparkSession,
    index: IndexHandle,
    pattern: str,
    k: int,
    max_expansions: int = 50,
) -> DataFrame:
    """ES wildcard query under the ``scoring_boolean`` rewrite: dictionary
    LIKE expansion + BM25-OR over the expansions via WAND. The dictionary
    scan is the only extra cost; a leading-``*`` pattern degrades it to a
    full dictionary pass (|vocab| rows) exactly as it does in Lucene."""
    terms = expand_wildcard(spark, index, pattern, max_expansions)
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    return bm25_topk_wand(spark, index, terms, k)


def more_like_this(
    spark: SparkSession,
    index: IndexHandle,
    docs_df: DataFrame,
    doc_id: int,
    k: int,
    max_query_terms: int = 5,
) -> DataFrame:
    """ES ``more_like_this``: select the source doc's most characteristic
    terms — top ``max_query_terms`` by tf·idf, (score desc, term asc)
    tie-break, ES's own interestingness order — then BM25-OR over them,
    source doc excluded from the hits.

    Scale shape: the source doc is ONE row fetched through a pushed
    doc_id predicate and tokenized driver-side (a document is KBs; this
    is the ES "like: {_id: ...}" term-vector fetch analog). Term
    selection joins those ≤ doclen distinct terms against term_stats
    with an IN-pushed scan; the query itself is the standard WAND plan.
    Exclusion is exact: top-(k+1) candidates in RAW score order, drop the
    source, keep k — identical to filtering inside the scorer."""
    from collections import Counter

    from unichem2index_spark.functions.tokenize import tokenize

    src = docs_df.where(F.col("doc_id") == doc_id).select("text").collect()
    if not src:
        return spark.createDataFrame([], TOPK_SCHEMA)
    tf = Counter(tokenize(src[0].text))
    idfs = _collect_idfs(spark, index, list(tf))
    ranked = sorted(
        ((t, tf[t] * idfs[t]) for t in idfs),
        key=lambda p: (-p[1], p[0]),
    )
    terms = [t for t, _ in ranked[:max_query_terms]]
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    per_shard = _per_shard_wand(spark, index, terms, k + 1)
    return _merge_topk(
        per_shard.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k + 1)
        .where(F.col("doc_id") != doc_id),
        k,
    )


# --------------------------------------------------------------------------
# Exact-phrase top-k over a positional index
# --------------------------------------------------------------------------
# The phrase kernels read exactly these columns: block_max_* metadata is
# never needed (no score pruning — phrase match is a filter), but
# max_doc_id + n_docs drive the block-skipping intersection.
_PHRASE_COLS = [
    "gen", "shard", "term", "idf", "block_id", "n_docs", "max_doc_id",
    "doc_gaps", "tfs", "dls", "positions",
]


def _require_positions(index: IndexHandle, op: str) -> None:
    if not index.has_positions:
        raise ValueError(
            f"{op} requires a positional index "
            "(build_index(..., positions=True))"
        )


def _shard_posts(rows: dict[str, dict[str, list]]) -> dict[str, PosTermPostings]:
    """A shard's per-term :class:`PosTermPostings` from its
    :func:`_term_rows`."""
    return {
        t: PosTermPostings(
            term=t,
            max_doc_ids=r["max_doc_id"],
            enc_blocks=list(
                zip(r["doc_gaps"], r["tfs"], r["dls"], r["positions"])
            ),
            df=sum(r["n_docs"]),
        )
        for t, r in rows.items()
    }


def _positional_topk(
    spark: SparkSession,
    index: IndexHandle,
    scan_terms,
    k: int,
    match,
    need=(),
) -> DataFrame:
    """Shared plan of the positional family: pushed ``term IN`` scan of
    ``scan_terms``, per shard ``match(posts, idfs, deleted)`` over the
    shard's per-term :class:`PosTermPostings` (block skipping, lazy
    position decode) and the idfs of its rows, n_shards*k candidate rows
    to the global merge. A shard where some term of ``need`` is absent
    (no rows, or a null idf) yields no rows: docs are sharded, so no doc
    there holds every needed term."""
    need = sorted(set(need))

    def fn(tbl, deleted: frozenset[int]):
        rows = _term_rows(tbl)
        idfs = _shard_idfs(rows)
        if any(t not in idfs for t in need):
            return ()
        return match(_shard_posts(rows), idfs, deleted)

    per_shard = index.per_shard(
        spark, scan_terms, _PHRASE_COLS, fn, TOPK_SCHEMA
    )
    return _merge_topk(per_shard, k)


def phrase_topk(
    spark: SparkSession,
    index: IndexHandle,
    phrase: list[str],
    k: int,
    slop: int = 0,
) -> DataFrame:
    """Phrase BM25 top-k: docs containing ``phrase`` as consecutive
    tokens, ranked by BM25 over the phrase's unique terms.

    ``slop`` allows up to that many extra tokens between EACH adjacent
    pair, in order (per-pair ordered gaps). NOTE: stricter than ES
    match_phrase slop, which is a total move budget that also admits
    out-of-order matches (slop=2 matches a reversed bigram in ES, never
    here); slop=0 — exact consecutive phrase — is identical in both.

    Beyond-reference capability: ES answers match_phrase by default on
    the index the reference creates (extractor/loader.go:121) though the
    reference never issues one (loader.go:239-379 is count/sort/aggs/
    match). Requires ``build_index(positions=True)``.

    Scale shape — identical to :func:`bm25_topk_wand`: `term IN` pushed
    to the parquet scan (row-group pruning), per-shard match + local
    top-k inside one applyInArrow stage, n_shards*k candidate rows to
    the global TakeOrderedAndProject. Tombstones cogroup per shard.
    Per-shard memory is bounded by the rarest term's postings (block
    skipping: candidates from the rarest term, other terms probed via
    per-block max_doc_id, positions decoded only for docs surviving the
    id intersection), so a stopword in the phrase costs O(candidates),
    not its full df."""
    _require_positions(index, "phrase_topk")
    if not phrase:
        return spark.createDataFrame([], TOPK_SCHEMA)
    uniq = sorted(set(phrase))
    avgdl = index.avgdl
    return _positional_topk(
        spark, index, uniq, k,
        lambda posts, idfs, deleted: phrase_match_topk(
            posts, phrase, idfs, avgdl, k, slop=slop, deleted=deleted
        ),
        need=uniq,
    )


def span_near_topk(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    slop: int = 0,
) -> DataFrame:
    """Unordered proximity BM25 top-k — ES ``span_near`` (in_order=false)
    / ``intervals`` ``all_of`` analog: docs where all query terms occur
    within a span of ``slop + n - 1`` tokens in ANY order, ranked by BM25
    over the unique terms. The "these words near each other" query that
    sits between bag-of-words match and exact phrase.

    Requires ``build_index(positions=True)``. Scale shape identical to
    :func:`phrase_topk` (shared kernel machinery): pushed ``term IN``
    scan, per-shard rarest-first intersection with block skipping, lazy
    position decode for survivors only, n_shards·k rows to the global
    merge, tombstones cogrouped."""
    _require_positions(index, "span_near_topk")
    uniq = sorted(set(terms))
    if not uniq:
        return spark.createDataFrame([], TOPK_SCHEMA)
    avgdl = index.avgdl  # plain float in the closure, never the handle
    return _positional_topk(
        spark, index, uniq, k,
        lambda posts, idfs, deleted: span_near_match_topk(
            posts, uniq, idfs, avgdl, k, slop=slop, deleted=deleted
        ),
        need=uniq,
    )


def span_first_topk(
    spark: SparkSession,
    index: IndexHandle,
    term: str,
    k: int,
    end: int,
) -> DataFrame:
    """``span_first`` BM25 top-k — ES ``span_first`` / Lucene
    ``SpanFirstQuery`` wrapping a span_term: docs where ``term`` occurs
    within the first ``end`` token positions (0-based), ranked by the
    ordinary single-term BM25. The lead-paragraph / title-position boost.

    Requires ``build_index(positions=True)``. One pushed ``term = X``
    segment scan; per shard the term's postings decode block-by-block
    with lazy position decode, k survivors per shard reach the global
    merge; tombstones cogrouped exactly like the phrase family."""
    _require_positions(index, "span_first_topk")
    avgdl = index.avgdl
    return _positional_topk(
        spark, index, [term], k,
        lambda posts, idfs, deleted: span_first_match_topk(
            posts, term, idfs[term], avgdl, k, end, deleted=deleted
        ),
        need=[term],
    )


def span_not_topk(
    spark: SparkSession,
    index: IndexHandle,
    include: str,
    exclude: str,
    k: int,
    dist: int = 0,
) -> DataFrame:
    """``span_not`` BM25 top-k — ES ``span_not`` / Lucene SpanNotQuery
    with a symmetric window: docs where some occurrence of ``include``
    has no ``exclude`` within ``dist`` tokens, ranked by the include
    term's BM25. Negation-by-proximity ("mortgage NOT NEAR reverse").

    Requires ``build_index(positions=True)``. One pushed ``term IN
    (include, exclude)`` segment scan; per shard the include postings
    drive, the exclude term is probed candidate-by-candidate with block
    skipping and lazy position decode; tombstones cogrouped like the
    rest of the span family."""
    _require_positions(index, "span_not_topk")
    avgdl = index.avgdl
    return _positional_topk(
        spark, index, [include, exclude], k,
        lambda posts, idfs, deleted: span_not_match_topk(
            posts, include, exclude, idfs[include], avgdl, k, dist=dist,
            deleted=deleted,
        ),
        need=[include],
    )


def phrase_topk_batch(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[dict],
) -> DataFrame:
    """Run a whole phrase-query set in ONE Spark job (the match_phrase
    serving shape, mirroring :func:`bm25_topk_batch`).

    ``queries``: [{"query_id": int, "phrase": [...], "k": int,
    "slop": int (optional, default 0)}, ...]. Returns (query_id, rank,
    doc_id, score), each query's top-k rank- and score-identical to
    :func:`phrase_topk` run one-by-one (pytest rank-identity oracle).

    Scale shape: segments scanned ONCE with `term IN (union of all
    phrases' terms)`; per shard the block-skipping kernel runs per query
    against shared :class:`PosTermPostings` cursors whose decoded-block
    caches are reused across queries; then one single-partition merge
    of the <= n_shards * sum(k) candidate rows."""
    _require_positions(index, "phrase_topk_batch")
    all_terms = sorted({t for q in queries for t in q["phrase"]})
    if not all_terms or not queries:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, score double"
        )
    # An empty phrase matches nothing (phrase_topk parity); drop it here
    # rather than letting the kernel see it.
    qspec = [
        (
            int(q["query_id"]),
            list(q["phrase"]),
            int(q["k"]),
            int(q.get("slop", 0)),
        )
        for q in queries
        if q["phrase"]
    ]
    avgdl = index.avgdl

    def fn(tbl, deleted: frozenset[int]):
        rows = _term_rows(tbl)
        idfs = _shard_idfs(rows)
        posts = _shard_posts(rows)
        for qid, phrase, k, slop in qspec:
            # a term absent from the shard: no doc here holds the phrase
            if any(t not in idfs for t in phrase):
                continue
            for d, s in phrase_match_topk(
                posts, phrase, idfs, avgdl, k, slop=slop, deleted=deleted
            ):
                yield qid, d, s, k

    return _merge_batch(
        index.per_shard(spark, all_terms, _PHRASE_COLS, fn, _BATCH_SCHEMA)
    )


# --------------------------------------------------------------------------
# Analytics parity ops (extractor/loader.go:239-379)
# --------------------------------------------------------------------------
def index_count(spark: SparkSession, index: IndexHandle) -> DataFrame:
    """A3: ES _count analog (extractor/loader.go:239-254)."""
    return index.docs(spark).agg(F.count(F.lit(1)).alias("doc_count"))


def last_doc_id(spark: SparkSession, index: IndexHandle) -> DataFrame:
    """W2: last-indexed id — match_all + sort desc + size 1
    (extractor/loader.go:256-286). max() instead of global sort."""
    return index.docs(spark).agg(F.max("doc_id").alias("last_doc_id"))


def counts_by_source(
    spark: SparkSession, index: IndexHandle, size: int = 3000
) -> DataFrame:
    """A6: terms aggregation — doc count per source, ordered, top-N
    (extractor/loader.go:340-379). Deterministic tie-break on the key."""
    return (
        index.docs(spark)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("source"))
        .limit(size)
    )


def query_string_topk(
    spark: SparkSession,
    docs_df: DataFrame,
    qstring: str,
    k: int = 10,
    syntax: str = "lucene",
) -> DataFrame:
    """Lucene `query_string` endpoint: parse the boolean mini-language
    (AND/OR/NOT, parentheses, quoted phrases — see
    functions/querystring.py for the exact grammar and documented
    semantics) and serve it on the corpus path. One tokenize pass
    computes eligibility as a single map-only boolean expression (the
    rendered AST); scoring is the standard BM25 sum over the query's
    positive terms, joined to the eligible set on doc_id. The DuckDB
    oracle renders the SAME AST, so engine and oracle can't drift.

    ``syntax="simple"`` parses ES ``simple_query_string`` instead
    (+/|/- operator characters, lenient — never throws on user input);
    both languages compile to the same AST, so everything downstream
    of the parser is one shared path."""
    from unichem2index_spark.functions.querystring import (
        parse_query_string,
        parse_simple_query_string,
        positive_terms,
        render_spark,
    )

    parse = (
        parse_simple_query_string if syntax == "simple" else parse_query_string
    )
    node = parse(qstring)
    pos = positive_terms(node)
    td = tokenized_docs(docs_df)
    sent = F.concat(F.lit(" "), F.concat_ws(" ", "tokens"), F.lit(" "))
    elig = (
        td.select(
            "doc_id", render_spark(node, F.col("tokens"), sent).alias("m")
        )
        .where("m")
        .select("doc_id")
    )
    if pos:
        scores = bm25_scores_from_corpus(docs_df, pos)
        out = elig.join(scores, "doc_id", "left").select(
            "doc_id", F.coalesce(F.col("score"), F.lit(0.0)).alias("raw")
        )
    else:
        out = elig.select("doc_id", F.lit(0.0).alias("raw"))
    return (
        out.orderBy(F.desc("raw"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("raw", 6).alias("score"))
    )


def rescore_topk(
    spark: SparkSession,
    docs_df: DataFrame,
    terms: list[str],
    phrase: list[str],
    window: int = 50,
    k: int = 10,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
) -> DataFrame:
    """ES `rescore` (window_size + query_weight/rescore_weight): take the
    BM25 top-``window`` and re-rank it with a second, more expensive
    signal — here a match_phrase test in constant-score mode, the classic
    "proximity rescore" recipe. Scale shape: the window (<= window rows)
    is BROADCAST into one map-only pass over the tokenized docs; the
    phrase test runs only for window members, never the full corpus."""
    base = (
        bm25_scores_from_corpus(docs_df, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(window)
    )
    needle = " " + " ".join(phrase) + " "
    td = tokenized_docs(docs_df)
    sent = F.concat(F.lit(" "), F.concat_ws(" ", "tokens"), F.lit(" "))
    flags = td.select(
        "doc_id", (F.locate(needle, sent) > 0).alias("phrase_match")
    )
    j = flags.join(F.broadcast(base), "doc_id")
    final = F.lit(float(query_weight)) * F.col("score") + F.lit(
        float(rescore_weight)
    ) * F.col("phrase_match").cast("int").cast("double")
    return (
        j.withColumn("final", final)
        .orderBy(F.desc("final"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            F.round("final", 6).alias("score"),
            "phrase_match",
        )
    )


def multi_match_topk(
    spark: SparkSession,
    docs_df: DataFrame,
    terms: list[str],
    k: int = 10,
    tie: float = 0.3,
    title_len: int = 8,
) -> DataFrame:
    """ES `multi_match` type=best_fields over two fields with TRUE
    per-field statistics (the part a single-field rollup can't fake:
    each field has its own df/avgdl/doclen, so the same term scores
    differently in title vs body — Lucene keeps per-field postings).
    Fields are synthesized deterministically from the fixture's one
    text column: title = first ``title_len`` tokens, body = the rest —
    disjoint, so the split is a real two-field corpus. best_fields
    combine = max + tie_breaker * min (dis_max over per-field scores).

    Field statistics follow Lucene: n_docs/avgdl/df are computed over
    docs where the field is non-empty, independently per field; each
    field's stats are an in-plan aggregate of the same job.

    Scale shape: two independent field scorer plans (each: pushed
    term-IN scan, partial-agg shuffle on doc_id) + one full-outer join
    of the two sparse score frames; the title slice prunes the token
    array BEFORE the explode, so the title postings frame is ~8/avgdl
    the size of the body's."""
    tok = tokenized_docs(docs_df)
    title = tok.select(
        "doc_id", F.slice("tokens", 1, title_len).alias("tokens")
    ).withColumn("doclen", F.size("tokens").cast("long"))
    body = tok.select(
        "doc_id",
        F.expr(
            f"slice(tokens, {title_len + 1}, "
            f"greatest(size(tokens) - {title_len}, 0))"
        ).alias("tokens"),
    ).withColumn("doclen", F.size("tokens").cast("long"))

    def field_score(field: DataFrame, name: str) -> DataFrame:
        return (
            _bm25_contribs(field.where(F.col("doclen") > 0), terms)
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias(name))
        )

    ts, bs = field_score(title, "ts"), field_score(body, "bs")
    j = ts.join(bs, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("ts", F.lit(0.0)).alias("t"),
        F.coalesce("bs", F.lit(0.0)).alias("b"),
    )
    raw = F.greatest(F.col("t"), F.col("b")) + F.lit(float(tie)) * F.least(
        F.col("t"), F.col("b")
    )
    return (
        j.withColumn("raw", raw)
        .orderBy(F.desc("raw"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("raw", 6).alias("score"))
    )


def pinned_topk(
    spark: SparkSession,
    docs_df: DataFrame,
    terms: list[str],
    pinned_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """ES `pinned` query: the given ids occupy the top of the page IN THE
    ORDER GIVEN (editorial promotion), organic BM25 results fill the
    remaining slots, pinned ids excluded from the organic section.
    Pinned rows carry score 0.0 + is_pinned=true (ES substitutes a
    synthetic huge sort value; the flag is the honest analog)."""
    npin = len(pinned_ids)
    pinned = spark.createDataFrame(
        [(i + 1, int(d)) for i, d in enumerate(pinned_ids)],
        "rank int, doc_id long",
    ).select(
        "rank", "doc_id", F.lit(True).alias("is_pinned"),
        F.lit(0.0).alias("score"),
    )
    organic = (
        bm25_scores_from_corpus(docs_df, terms)
        .where(~F.col("doc_id").isin([int(d) for d in pinned_ids]))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(max(k - npin, 0))
    )
    worg = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    organic = organic.select(
        (F.row_number().over(worg) + F.lit(npin)).alias("rank"),
        "doc_id",
        F.lit(False).alias("is_pinned"),
        F.round("score", 6).alias("score"),
    )
    return pinned.unionByName(organic).orderBy("rank")


def expand_regexp(
    spark: SparkSession,
    index: IndexHandle,
    pattern: str,
    max_expansions: int = 50,
) -> list[str]:
    """ES regexp-query term expansion: Lucene regexps are FULL-match
    (implicitly anchored), so the dictionary probe anchors the pattern;
    alphabetical, capped — the same deterministic-cap divergence from
    ES's top_terms rewrite as the prefix/wildcard expanders."""
    rows = (
        index.term_stats(spark)
        .where(F.col("term").rlike(f"^(?:{pattern})$"))
        .select("term")
        .orderBy("term")
        .limit(max_expansions)
        .collect()
    )
    return [r.term for r in rows]


def bm25_topk_regexp(
    spark: SparkSession,
    index: IndexHandle,
    pattern: str,
    k: int,
    max_expansions: int = 50,
) -> DataFrame:
    """ES regexp query (scoring_boolean rewrite): anchored-regex
    dictionary expansion + BM25-OR over the expansions via WAND — the
    same plan family as wildcard, and like Lucene the automaton cost is
    bounded by the dictionary scan, never the postings."""
    terms = expand_regexp(spark, index, pattern, max_expansions)
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    return bm25_topk_wand(spark, index, terms, k)


def _flatten_query_string(node) -> tuple[list[str], list[str], int]:
    """Flatten a query_string AST into the kernel-servable shape
    (positive terms, must_not terms, min_match) — raises on anything
    nested or phrase-bearing."""
    if node[0] == "term":
        return [node[1]], [], 1
    if node[0] == "or" and all(c[0] == "term" for c in node[1]):
        return [c[1] for c in node[1]], [], 1
    if node[0] == "and":
        pos, neg = [], []
        for c in node[1]:
            if c[0] == "term":
                pos.append(c[1])
            elif c[0] == "not" and c[1][0] == "term":
                neg.append(c[1][1])
            else:
                raise ValueError(
                    "query_string: not kernel-flat; use the corpus path"
                )
        if not pos:
            raise ValueError("query_string: pure-negative is not servable")
        return pos, neg, len(set(pos))
    raise ValueError("query_string: not kernel-flat; use the corpus path")


def query_string_topk_wand(
    spark: SparkSession,
    index: IndexHandle,
    qstring: str,
    k: int = 10,
) -> DataFrame:
    """The SERVING path for flat query_string queries: `a OR b OR c`
    (min_match=1), `a AND b` (min_match=n), and a top-level conjunction
    mixing terms with NOT terms (kernel exclusion sets) all compile
    straight onto the block-max WAND kernel — one pushed segment scan,
    per-shard top-k, no corpus tokenize. Nested boolean trees and
    phrases raise and route to :func:`query_string_topk` (the exact
    corpus path) — exactly how a serving tier splits the flat common
    case from the long tail."""
    from unichem2index_spark.functions.querystring import parse_query_string

    pos, neg, mm = _flatten_query_string(parse_query_string(qstring))
    return bm25_topk_must_not(spark, index, pos, k, neg, min_match=mm)


def percolate_query_strings(
    spark: SparkSession,
    docs_df: DataFrame,
    registrations: list[tuple[int, str]],
) -> DataFrame:
    """Percolator for stored query_string registrations — the COMPILED
    form: every registered boolean tree renders to one Catalyst
    expression over the tokenized doc (functions/querystring.py), so
    the whole registry evaluates as N boolean columns in ONE map-only
    pass — no join, no shuffle, no per-query job. (ES walks each doc
    through each stored query's Lucene memory index; compiling the
    registry into the scan is the columnar-engine answer.) Complements
    :func:`percolate`, whose term-set/phrase registries cover the
    posting-join shape.

    Output: (query_id, doc_id) matches, ordered."""
    from unichem2index_spark.functions.querystring import (
        parse_query_string,
        render_spark,
    )

    td = tokenized_docs(docs_df)
    sent = F.concat(F.lit(" "), F.concat_ws(" ", "tokens"), F.lit(" "))
    flags = [
        F.when(
            render_spark(parse_query_string(qs), F.col("tokens"), sent),
            F.lit(int(qid)),
        ).alias(f"_q{qid}")
        for qid, qs in registrations
    ]
    matched = td.select(
        "doc_id", F.array_compact(F.array(*flags)).alias("hits")
    ).where(F.size("hits") > 0)
    return (
        matched.select(
            F.explode("hits").alias("query_id"), "doc_id"
        )
        .orderBy("query_id", "doc_id")
    )


def span_near_or_topk(
    spark: SparkSession,
    index: IndexHandle,
    groups: list[list[str]],
    k: int,
    slop: int = 0,
) -> DataFrame:
    """Nested spans — ES/Lucene ``span_near`` whose clauses are
    ``span_or`` groups of alternatives ("(fast|slow) NEAR merge"): one
    position per group, drawn from the union of that group's members'
    occurrences, must fit the unordered window ``slop + n_groups - 1``.
    Scoring follows the SynonymQuery discipline (tf summed over group
    members, blended group idf = min member idf, i.e. the idf of the
    max blended df) so alternatives share one scoring slot — identical
    to ``bm25_topk_synonyms``' blend, proximity-gated.

    Scale shape identical to :func:`span_near_topk` (shared kernel
    machinery): pushed ``term IN`` scan over ALL member terms, per-shard
    rarest-group-first intersection with block skipping, lazy position
    decode for survivors only, n_shards*k rows to the global merge,
    tombstones cogrouped."""
    _require_positions(index, "span_near_or_topk")
    gs = [sorted({str(x) for x in g}) for g in groups if g]
    if not gs:
        return spark.createDataFrame([], TOPK_SCHEMA)
    members = sorted({t for g in gs for t in g})
    idfs = _collect_idfs(spark, index, members)
    # blended group idf = min PRESENT member idf (== idf at max df);
    # a group with no present member can never match.
    gidfs: list[float] = []
    for g in gs:
        pres = [idfs[t] for t in g if t in idfs]
        if not pres:
            return spark.createDataFrame([], TOPK_SCHEMA)
        gidfs.append(min(pres))
    avgdl = index.avgdl
    return _positional_topk(
        spark, index, members, k,
        lambda posts, _idfs, deleted: span_near_or_match_topk(
            posts, gs, gidfs, avgdl, k, slop=slop, deleted=deleted
        ),
    )


def intervals_unordered_match(
    docs_df: DataFrame,
    term_a: str,
    term_b: str,
    max_gaps: int = 4,
) -> DataFrame:
    """ES ``intervals`` query, ``all_of`` with ``ordered: false,
    max_gaps: G`` for two terms (corpus path): a doc matches when SOME
    occurrence of term_a and SOME occurrence of term_b sit within G
    filler positions of each other IN EITHER ORDER — the unordered
    complement of :func:`intervals_ordered_topk` ("merge near group,
    order irrelevant"). Emits the match evidence ES's intervals
    iterator exposes: the doc's minimal gap and how many position
    pairs fall inside the budget.

    Exactness: pure integer position arithmetic (``|pa - pb| - 1``),
    no floats anywhere.

    Scale shape: positions come from ONE posexplode filtered to the
    two terms before any shuffle; the pair frame is a self-join
    co-partitioned on doc_id whose per-doc size is tf_a * tf_b — the
    same bounded-verify shape the phrase kernel's candidate check has
    (functions/phrase.py), applied corpus-side. The index-path twin
    would ride span_near_topk's machinery with the order check
    dropped. Ref analog: SURVEY §2 W5 span/proximity family."""
    tokp = tokenized_docs(docs_df).select(
        "doc_id", F.posexplode("tokens").alias("pos", "term")
    )
    pa = tokp.where(F.col("term") == term_a).select(
        "doc_id", F.col("pos").alias("pa")
    )
    pb = tokp.where(F.col("term") == term_b).select(
        "doc_id", F.col("pos").alias("pb")
    )
    pairs = pa.join(pb, "doc_id").select(
        "doc_id",
        (F.abs(F.col("pa") - F.col("pb")) - F.lit(1)).alias("gap"),
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.min("gap").cast("long").alias("min_gap"),
            F.sum((F.col("gap") <= max_gaps).cast("long"))
            .cast("long")
            .alias("n_pairs_within"),
        )
        .where(F.col("min_gap") <= max_gaps)
        .orderBy("doc_id")
    )


def intervals_ordered_topk(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    k: int,
    max_gaps: int = 0,
) -> DataFrame:
    """ES ``intervals`` query, ``match`` source with ``ordered: true,
    max_gaps: G``: docs containing positions p_1 < p_2 < ... < p_n in
    QUERY ORDER whose total gap budget ``p_n - p_1 - (n-1)`` is <= G,
    ranked BM25 over the unique terms (span-family discipline). The
    ordered complement of :func:`span_near_topk` — "merge then group
    then key, in that order, at most G fillers between them". Ref
    analog: the reference delegates proximity to Lucene's intervals /
    NearSpansOrdered via ES (SURVEY §2 W5 family).

    Requires ``build_index(positions=True)``. Scale shape identical to
    :func:`span_near_topk` (shared kernel machinery): pushed ``term IN``
    scan, per-shard rarest-first intersection with block skipping, lazy
    position decode + O(total positions) ordered-chain sweep for
    survivors only, n_shards*k rows to the global merge, tombstones
    cogrouped."""
    _require_positions(index, "intervals_ordered_topk")
    q = [str(t) for t in terms if t]
    if not q:
        return spark.createDataFrame([], TOPK_SCHEMA)
    uniq = sorted(set(q))
    avgdl = index.avgdl  # plain float in the closure, never the handle
    return _positional_topk(
        spark, index, uniq, k,
        lambda posts, idfs, deleted: intervals_ordered_match_topk(
            posts, q, idfs, avgdl, k, max_gaps=max_gaps, deleted=deleted
        ),
        need=uniq,
    )


def match_phrase_prefix_topk(
    spark: SparkSession,
    index: IndexHandle,
    fixed: list[str],
    prefix: str,
    k: int,
    max_expansions: int = 50,
    slop: int = 0,
) -> DataFrame:
    """ES ``match_phrase_prefix``: the phrase ``fixed + [prefix*]`` —
    the fixed terms in adjacent (slop-budgeted) positions, followed by
    ANY dictionary term starting with ``prefix``. The search-as-you-type
    primitive. Ref analog: the reference delegates this to Lucene's
    MultiPhraseQuery via ES (SURVEY §2 W5/W8 family).

    Expansion discipline: :func:`expand_prefix` against the GLOBAL term
    dictionary (alphabetical, capped at ``max_expansions``), minus the
    fixed terms — deterministic, unlike ES's infamous per-shard
    expansion which can return different result sets per shard count.
    Scoring: BM25 over the unique fixed terms plus ONE blended slot for
    the expansion group (tf summed over members, idf blended at max
    member df — the SynonymQuery discipline shared with
    :func:`span_near_or_topk`).

    Scale shape identical to :func:`phrase_topk` (shared kernel
    machinery): pushed ``term IN`` scan over fixed + expansion terms,
    per-shard rarest-fixed-first intersection with block skipping, lazy
    position decode for survivors only, n_shards*k rows to the global
    merge, tombstones cogrouped. The dictionary expansion is one pushed
    StartsWith scan returning <= max_expansions strings to the driver."""
    _require_positions(index, "match_phrase_prefix_topk")
    fx = [str(t) for t in fixed if t]
    if not fx or not prefix:
        return spark.createDataFrame([], TOPK_SCHEMA)
    fset = set(fx)
    group = [t for t in expand_prefix(spark, index, prefix, max_expansions)
             if t not in fset]
    if not group:
        return spark.createDataFrame([], TOPK_SCHEMA)
    uniq = sorted(fset)
    idfs = _collect_idfs(spark, index, uniq + group)
    if any(t not in idfs for t in uniq):
        return spark.createDataFrame([], TOPK_SCHEMA)
    # blended group idf = min member idf (== idf at max expansion df);
    # expand_prefix only returns dictionary terms, so all are present.
    group_idf = min(idfs[t] for t in group)
    avgdl = index.avgdl
    return _positional_topk(
        spark, index, uniq + group, k,
        lambda posts, _idfs, deleted: phrase_prefix_match_topk(
            posts, fx, group, idfs, group_idf, avgdl, k,
            slop=slop, deleted=deleted,
        ),
    )


def match_bool_prefix_topk(
    spark: SparkSession,
    docs_df: DataFrame,
    fixed: list[str],
    prefix: str,
    k: int,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``match_bool_prefix``: the non-positional sibling of
    :func:`match_phrase_prefix_topk` — a bool SHOULD over one term
    clause per unique fixed term plus ONE prefix clause for the
    trailing partial word, no adjacency required (the other half of
    the search-as-you-type pair; ES builds exactly this bool query).
    Ref analog: delegated to ES/Lucene by the reference (SURVEY §2 W8).

    A doc matches when ANY clause matches (operator OR,
    minimum_should_match 1). Scoring: each fixed term is its own BM25
    slot; the prefix expansion is ONE synonym-blended slot (tf summed
    over members, df blended at the max member df) — so the whole
    query is :func:`bm25_topk_synonyms` over singleton groups for the
    fixed terms plus the expansion group, and this function is that
    composition. Expansion: corpus vocabulary terms starting with
    ``prefix``, alphabetical, capped at ``max_expansions``, minus the
    fixed terms — global and deterministic.

    Scale: the expansion is one distinct-term scan returning
    <= max_expansions strings to the driver (at serving scale the
    index's term_stats dictionary replaces it, as in
    :func:`expand_prefix`); everything after is the synonyms plan —
    broadcast term->group map, one rollup shuffle, global top-k."""
    fx = sorted({str(t) for t in fixed if t})
    if not fx or not prefix:
        return spark.createDataFrame([], TOPK_SCHEMA)
    vocab = (
        exact_postings(tokenized_docs(docs_df))
        .select("term")
        .distinct()
        .where(F.col("term").startswith(prefix))
        .orderBy("term")
        .limit(max_expansions)
        .collect()
    )
    group = [r.term for r in vocab if r.term not in set(fx)]
    groups = [[t] for t in fx]
    if group:
        groups.append(group)
    return bm25_topk_synonyms(spark, docs_df, groups, k)


def rank_feature_topk(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    field: str = "n_chars",
    pivot: float = 300.0,
    boost: float = 1.0,
) -> DataFrame:
    """ES ``rank_feature`` query (saturation function) inside a bool:
    ``must: match(terms), should: rank_feature(field, pivot, boost)`` —
    rank by ``BM25(q, d) + boost * x / (x + pivot)`` where x is the
    doc's numeric feature (pagerank/quality/length). The ADDITIVE
    static-signal boost, vs field_value_factor's multiplicative one;
    saturation bounds the contribution by ``boost`` no matter how large
    the feature gets (Lucene FeatureField's saturation). Ref analog:
    delegated to ES/Lucene by the reference (SURVEY §2 W8 family).

    Declarative corpus path (oracle-checked): the feature join is
    doc_id-equi on the already-scored frame. Index-serving note: the
    additive term is bounded by ``boost``, so a WAND upper bound of
    block_bound + boost stays admissible; survivors rescore with the
    exact per-doc feature cogrouped in — same shape as the bounded
    multiplier family."""
    scores = bm25_scores_from_corpus(docs_df, terms)
    feat = F.col(field).cast("double")
    boosted = scores.join(docs_df.select("doc_id", field), "doc_id").select(
        "doc_id",
        (
            F.col("score")
            + F.lit(float(boost)) * feat / (feat + F.lit(float(pivot)))
        ).alias("score"),
    )
    return _merge_topk(boosted, k)


def terms_enum(
    spark: SparkSession,
    index: IndexHandle,
    prefix: str,
    size: int = 10,
) -> DataFrame:
    """ES ``_terms_enum`` API: the terms of the dictionary starting with
    ``prefix``, alphabetical, capped at ``size`` — the index-backed
    autocomplete primitive (ES surfaces it for field-value suggestions).
    One pushed StartsWith scan over the term_stats dictionary; <= size
    rows move, at any corpus size. Shares the expansion discipline of
    :func:`expand_prefix` (same scan, terms only)."""
    return (
        index.term_stats(spark)
        .where(F.col("term").startswith(prefix))
        .select("term")
        .orderBy("term")
        .limit(size)
    )


def combined_fields_topk(
    spark: SparkSession,
    docs_df: DataFrame,
    terms: list[str],
    k: int = 10,
    title_len: int = 8,
    title_weight: int = 2,
) -> DataFrame:
    """ES ``combined_fields`` query (BM25F): fields scored as ONE
    combined pseudo-field — per-doc weighted term frequency
    ``wtf = w_title*tf_title + tf_body`` and weighted doc length
    ``dl = w_title*len_title + len_body``, with ONE df / avgdl from the
    combined field (the principled cross-field model; contrast
    :func:`multi_match_topk`, whose best_fields keeps per-field
    statistics and takes the max). Fields come from the same
    deterministic title/body split multi_match uses. ES restricts
    combined_fields to same-analyzer text fields precisely because the
    freqs must be mergeable — integer weights keep wtf/dl exact here,
    so the BM25 float tree is bit-identical across engines.

    Scale shape: ONE posexplode pass (no per-field scorer fork), one
    partial-agg shuffle on (doc_id, term), broadcast df join — the same
    plan as plain BM25; the weighting is a map-side CASE."""
    uniq = sorted(set(terms))
    tok = tokenized_docs(docs_df)
    w, L = int(title_weight), int(title_len)
    dl_expr = (
        F.lit(w) * F.least(F.col("doclen"), F.lit(L))
        + (F.col("doclen") - F.least(F.col("doclen"), F.lit(L)))
    ).cast("long")
    dl = tok.select("doc_id", dl_expr.alias("dl"))
    srow = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    n_docs, avgdl = int(srow.n), int(srow.s) / int(srow.n)
    # pos is 0-based: positions < L are title slots
    post = (
        tok.select("doc_id", F.posexplode("tokens").alias("pos", "term"))
        .where(F.col("term").isin(uniq))
        .groupBy("doc_id", "term")
        .agg(
            F.sum(
                F.when(F.col("pos") < L, F.lit(w)).otherwise(F.lit(1))
            ).cast("long").alias("wtf")
        )
    )
    dfs = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    contrib = idf * (
        F.col("wtf")
        / (
            F.col("wtf")
            + F.lit(bm25.K1)
            * (
                F.lit(1.0 - bm25.B)
                + F.lit(bm25.B) * F.col("dl") / F.lit(avgdl)
            )
        )
    )
    scored = (
        post.join(F.broadcast(dfs), "term")
        .join(dl, "doc_id")
        .select("doc_id", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return _merge_topk(scored, k)


def distance_feature_topk(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    origin: int,
    pivot: float = 200.0,
    boost: float = 1.5,
) -> DataFrame:
    """ES ``distance_feature`` query: BM25 plus the additive proximity
    boost ``boost * pivot / (pivot + |x - origin|)`` — full boost AT the
    origin, half at pivot distance (ES supports date/geo origins; here
    the recency ordinal is doc_id, which the ingest contract assigns in
    arrival order). Sibling of :func:`rank_feature_topk`: saturation
    rewards a LARGE static feature, distance_feature rewards CLOSENESS
    to a query-time origin. The distance is an exact integer; pivot
    enters once — one float tree, engine-identical. Bounded by
    ``boost``, so the WAND serving bound stays admissible (same note as
    rank_feature)."""
    scores = bm25_scores_from_corpus(docs_df, terms)
    dist = F.abs(F.col("doc_id") - F.lit(int(origin))).cast("double")
    boosted = scores.select(
        "doc_id",
        (
            F.col("score")
            + F.lit(float(boost)) * F.lit(float(pivot))
            / (F.lit(float(pivot)) + dist)
        ).alias("score"),
    )
    return _merge_topk(boosted, k)


def span_containing_topk(
    spark: SparkSession,
    index: IndexHandle,
    big_terms: list[str],
    little: str,
    k: int,
    slop: int = 0,
    mode: str = "containing",
) -> DataFrame:
    """ES ``span_containing`` / ``span_within``: the big span is an
    unordered span_near over ``big_terms``, the little span a single
    term; a doc matches iff some valid big span's interval contains an
    occurrence of the little term. Lucene scores the query being
    RETURNED — ``mode="containing"`` scores the big terms (little is a
    filter), ``mode="within"`` scores the little term (big is the
    filter) — so both queries share this kernel and differ only in the
    scoring set.

    Requires ``build_index(positions=True)``. Scale shape identical to
    :func:`span_near_topk` (shared machinery): pushed ``term IN`` scan
    over big+little, per-shard rarest-first intersection with block
    skipping, lazy position decode for survivors, n_shards·k rows to
    the global merge."""
    if mode not in ("containing", "within"):
        raise ValueError(f"span_containing_topk: bad mode {mode!r}")
    _require_positions(index, "span_containing_topk")
    uniq_big = sorted(set(big_terms))
    need = sorted(set(uniq_big + [little]))
    score_over = uniq_big if mode == "containing" else [little]
    avgdl = index.avgdl
    return _positional_topk(
        spark, index, need, k,
        lambda posts, idfs, deleted: span_containing_match_topk(
            posts,
            uniq_big,
            little,
            idfs,
            avgdl,
            k,
            slop=slop,
            score_terms=score_over,
            deleted=deleted,
        ),
        need=need,
    )


def terms_lookup(
    spark: SparkSession,
    docs_df: DataFrame,
    lookup_doc: int,
    field: str = "source",
    k: int = 15,
) -> DataFrame:
    """ES ``terms`` query with TERMS LOOKUP: the filter's value set is
    fetched from another document's field at query time ("docs sharing
    doc 42's source") — the follow-the-pointer filter ES resolves with
    a GET against the lookup index before running the query. Constant
    score (filter context), ties to doc_id order like ES's _doc sort.

    Spark-first shape: the one-row lookup becomes a broadcast
    semi-join key set — NO driver collect, so the plan stays one job
    and works unchanged when the lookup matches many rows (ES caps at
    65k lookup terms; a broadcast join is exactly that contract)."""
    lk = docs_df.where(F.col("doc_id") == int(lookup_doc)).select(field)
    return (
        docs_df.join(F.broadcast(lk), field, "leftsemi")
        .select("doc_id", field)
        .orderBy("doc_id")
        .limit(k)
    )


def collapse_inner_hits_topk(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    inner_size: int = 2,
    collapse_field: str = "source",
) -> DataFrame:
    """ES ``collapse`` with ``inner_hits``: the top-k collapsed groups
    (best doc per ``collapse_field``), each carrying its group's top
    ``inner_size`` hits — "one result per site, with the site's next
    best underneath". ES runs a second per-group sub-search for the
    inner hits; here ONE window rank serves both roles: rank 1 rows are
    the collapsed winners, ranks ≤ inner_size are their inner hits, so
    no second pass over the corpus happens at all.

    Emitted flat (group_rank, inner_rank) rows rather than a nested
    array — the relational shape of the same payload (and the driver
    canon can hash it). Group page membership and ordering follow the
    rank-1 rows exactly like :func:`collapse_topk`; inner hits ride
    along via a broadcast semi-join of the k winning keys."""
    scores = bm25_scores_from_corpus(docs_df, terms)
    joined = scores.join(
        docs_df.select("doc_id", collapse_field), "doc_id"
    )
    w = Window.partitionBy(collapse_field).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranked = joined.withColumn("inner_rank", F.row_number().over(w))
    winners = (
        ranked.where(F.col("inner_rank") == 1)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select(
            F.col(collapse_field),
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
            .alias("group_rank"),
        )
    )
    return (
        ranked.where(F.col("inner_rank") <= int(inner_size))
        .join(F.broadcast(winners), collapse_field)
        .orderBy("group_rank", "inner_rank")
        .select(
            "group_rank",
            F.col(collapse_field),
            "inner_rank",
            "doc_id",
            F.round("score", 6).alias("score"),
        )
    )


def mterm_vectors(docs_df: DataFrame, doc_ids: list[int]) -> DataFrame:
    """ES ``_mtermvectors``: :func:`term_vectors` for a SET of docs in
    one call — per (doc, term): in-doc tf + sorted 0-based positions,
    plus corpus-wide df/ttf. Exactly the batching contract _msearch has
    for queries: one corpus-stats pass + ONE broadcast of all requested
    docs' term lists, instead of len(ids) round trips.

    Same broadcast direction as term_vectors (requested docs' terms are
    small at any corpus size; the vocabulary is not); positions
    serialize to the repo's comma-joined string convention."""
    ids = sorted(set(int(d) for d in doc_ids))
    tok = tokenized_docs(docs_df)
    pos = (
        tok.where(F.col("doc_id").isin(ids))
        .select("doc_id", F.posexplode("tokens").alias("p", "term"))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("p")).alias("positions"),
        )
    )
    post = exact_postings(tok)
    tstats = post.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
    )
    return (
        tstats.join(F.broadcast(pos), "term")
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.col("ttf").cast("long").alias("ttf"),
            F.concat_ws(
                ",", F.transform("positions", lambda p: p.cast("string"))
            ).alias("positions"),
        )
        .orderBy("doc_id", "term")
    )


def analyze_shingles(
    spark: SparkSession, text: str, shingle_size: int = 2
) -> DataFrame:
    """ES ``_analyze`` with a ``shingle`` token filter: the analyzer's
    tokens plus the word n-grams the shingle filter would emit —
    (position, token) where a shingle's position is its FIRST word's
    (Lucene shingle filter positioning, output_unigrams=true). The
    index-side half of phrase matching as a term problem: shingled
    fields trade index size for exact-phrase term lookups.

    Same single shared tokenizer expression as :func:`analyze_text`;
    the shingles are a map-only transform over the token array — at
    ingest scale this is the map-side projection a shingled index field
    adds to the build, no extra shuffle."""
    from unichem2index_spark.functions.tokenize import tokens_col

    n = int(shingle_size)
    base = spark.createDataFrame([(text,)], "text string").select(
        tokens_col("text").alias("toks")
    )
    unigrams = base.select(
        F.posexplode("toks").alias("position", "token")
    )
    shingles = base.where(F.size("toks") >= n).select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("toks", i + j + 1) for j in range(n)]
                ),
            )
        ).alias("position", "token")
    )
    return unigrams.unionByName(shingles).orderBy("position", "token")


def msearch_template_topk(
    spark: SparkSession,
    docs_df: DataFrame,
    template: str,
    param_sets: list[tuple[int, dict]],
    k: int = 10,
) -> DataFrame:
    """ES ``_msearch/template``: the template rendered once per param
    set, the whole batch served as ONE union plan (query_id tagged per
    sub-search) — the templated sibling of _msearch's batching
    contract. Each sub-search is the full shared query_string path
    (parser → eligibility expression → BM25 over positive terms), so a
    batch result is row-identical to running its template alone.

    The sub-plans share the one tokenize projection under Spark's plan
    reuse, and the union executes as one job; per-sub-search rows stay
    bounded at k before the union, so the merge is len(params)·k rows
    regardless of corpus size."""
    from unichem2index_spark.functions.querystring import (
        render_search_template,
    )

    if not param_sets:
        raise ValueError("msearch_template: empty param_sets")
    outs = []
    for qid, params in param_sets:
        rendered = render_search_template(template, params)
        outs.append(
            query_string_topk(spark, docs_df, rendered, k).select(
                F.lit(int(qid)).alias("query_id"), "doc_id", "score"
            )
        )
    out = outs[0]
    for d in outs[1:]:
        out = out.unionByName(d)
    return out.orderBy("query_id", F.desc("score"), F.asc("doc_id"))


def sparse_vector_topk(
    docs_df: DataFrame,
    weights: dict[str, int],
    k: int = 10,
) -> DataFrame:
    """ES ``sparse_vector`` query (8.15+, the ELSER/learned-sparse
    serving shape): the query is a sparse term→weight vector, each doc
    scores as the dot product of the query weights with the doc's
    term-frequency features — NO idf, NO length norm (that's the
    defining difference from BM25: the model already baked importance
    into the weights). Integer weights keep the fold exact (real ELSER
    weights are floats; the exact-integer form is this repo's
    hash-checkable reading, the float path is the same plan).

    Scale shape: the token explode filters to the query's terms FIRST
    (``term IN`` prunes before the (doc, term) tf agg — the same
    pushdown as the BM25 corpus path), the weight lookup is a literal
    in-expression map (zero side data, no join), and ONE hash agg
    sums the dot product. At index-serving scale the identical
    scoring runs over the posting lists instead of the corpus scan —
    postings of the query terms only, k rows out per shard."""
    from unichem2index_spark.functions.tokenize import tokens_col

    if not weights:
        raise ValueError("sparse_vector: empty weights")
    wmap = F.create_map(
        *[F.lit(x) for kv in sorted(weights.items()) for x in kv]
    )
    tf = (
        docs_df.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .where(F.col("term").isin(sorted(weights)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.select(
            "doc_id",
            (F.col("tf") * wmap.getItem(F.col("term")).cast("long")).alias(
                "part"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("part").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def analyze_edge_ngrams(
    spark: SparkSession, text: str, min_gram: int = 2, max_gram: int = 5
) -> DataFrame:
    """ES ``_analyze`` with an ``edge_ngram`` token filter
    (preserve_original=true): each token emits its leading grams of
    length ``min_gram``..``min(len, max_gram)`` at the token's
    position, plus the original token whenever it falls OUTSIDE the
    gram range (shorter than min_gram or longer than max_gram) — the
    Lucene preserve_original contract. The index-side analyzer behind
    search-as-you-type fields: prefix lookups become exact term
    lookups.

    Map-only over the token array, like :func:`analyze_shingles` — at
    ingest scale this is the extra projection an edge-ngram index
    field adds to the build, no shuffle. The gram expansion is a
    ``sequence`` guarded against the descending-sequence trap (Spark's
    sequence(2, 1) counts DOWN, so short tokens must hit the guard,
    not the sequence)."""
    from unichem2index_spark.functions.tokenize import tokens_col

    lo, hi = int(min_gram), int(max_gram)
    if not (1 <= lo <= hi):
        raise ValueError("edge_ngrams: need 1 <= min_gram <= max_gram")
    base = spark.createDataFrame([(text,)], "text string").select(
        F.posexplode(tokens_col("text")).alias("position", "tok")
    )
    grams = base.where(F.length("tok") >= lo).select(
        "position",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(lo), F.least(F.length("tok"), F.lit(hi))
                ),
                lambda g: F.substring(F.col("tok"), 1, g),
            )
        ).alias("token"),
    )
    originals = base.where(
        (F.length("tok") < lo) | (F.length("tok") > hi)
    ).select("position", F.col("tok").alias("token"))
    return grams.unionByName(originals).orderBy("position", "token")


def scroll_sliced(
    docs_df: DataFrame, n_slices: int = 4, page: int = 10
) -> DataFrame:
    """ES sliced scroll (``slice: {id, max}``): the parallel-export
    API — ``max`` independent scroll streams over disjoint document
    subsets, each consumer pulling its own slice. Slice membership is
    a pure function of doc_id (the deterministic hash permutation the
    sampling ops share; ES uses a hash of _id — same contract,
    different hash, documented), so the slices are disjoint, exhaustive
    and stable across runs. Returns each slice's FIRST page (rank in
    _doc order within the slice), the shape a parallel exporter fans
    out on.

    Scale shape: membership is a map-side modulo — no shuffle to form
    slices; the per-slice rank is one window partitioned by slice_id
    (each partition is corpus/n docs, and in the production exporter
    the rank is served by per-segment cursors, not a global window —
    the scroll_topk discipline). The page LIMIT bounds the output at
    n_slices · page rows."""
    from unichem2index_spark.functions.hashing import FP_MULT, MOD

    if n_slices < 1:
        raise ValueError("scroll_sliced: n_slices must be >= 1")
    perm = ((F.col("doc_id") % MOD + 1) * FP_MULT) % MOD
    w = Window.partitionBy("slice_id").orderBy("doc_id")
    return (
        docs_df.select("doc_id", (perm % n_slices).alias("slice_id"))
        # long pin: Spark row_number is int32, DuckDB's is BIGINT
        .withColumn("slice_rank", F.row_number().over(w).cast("long"))
        .where(F.col("slice_rank") <= int(page))
        .orderBy("slice_id", "slice_rank")
    )


def ltr_features(
    docs_df: DataFrame,
    terms: list[str],
    k: int,
    marker_hi: str,
    marker_lo: str,
) -> DataFrame:
    """Learning-to-rank training-example extraction: for the BM25 top-k
    of a query, emit the per-doc feature vector a reranker trains on
    (bm25 score, matched-term count, summed query-term tf, doclen) plus
    the graded relevance LABEL (same deterministic judgment derivation
    as :func:`ndcg_eval`: rel = 2*has(marker_hi) + has(marker_lo)) -
    the table every search team exports from its engine into XGBoost/
    LambdaMART.

    Scale: feature joins touch only the k-row ranked frame; the
    postings pre-agg is the same shared spine every corpus scorer uses,
    so an N-query export amortizes one corpus pass across queries."""
    uniq = sorted(set(terms))
    order = [F.desc("score"), F.asc("doc_id")]
    ranked = (
        bm25_scores_from_corpus(docs_df, terms).orderBy(*order).limit(k)
    )
    post = exact_postings(tokenized_docs(docs_df))
    qf = (
        post.where(F.col("term").isin(uniq))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("tf").cast("long").alias("sum_tf"),
            F.max("doclen").cast("long").alias("doclen"),
        )
    )
    hi = (
        post.where(F.col("term") == marker_hi)
        .select("doc_id").distinct().withColumn("h", F.lit(1))
    )
    lo = (
        post.where(F.col("term") == marker_lo)
        .select("doc_id").distinct().withColumn("l", F.lit(1))
    )
    return (
        ranked.join(qf, "doc_id", "left")
        .join(hi, "doc_id", "left")
        .join(lo, "doc_id", "left")
        .select(
            "doc_id",
            F.round("score", 6).alias("score"),
            F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
            F.coalesce("sum_tf", F.lit(0)).cast("long").alias("sum_tf"),
            F.coalesce("doclen", F.lit(0)).cast("long").alias("doclen"),
            (
                F.coalesce("h", F.lit(0)) * 2 + F.coalesce("l", F.lit(0))
            ).cast("int").alias("label"),
            F.col("score").alias("_raw"),
        )
        .orderBy(F.desc("_raw"), F.asc("doc_id"))
        .drop("_raw")
    )


def prf_expansion(
    docs_df: DataFrame,
    terms: list[str],
    fb_k: int,
    n_terms: int,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio / RM-style):
    take the BM25 top-fb_k docs as the feedback set and rank candidate
    expansion terms by sum_d(tf/doclen) * idf over that set, excluding
    the original query terms - the automatic query-expansion step
    classic IR stacks run between retrieval rounds (vs
    `significant_text_agg`, which is filter-anchored, this is
    QUERY-anchored: the feedback set is the ranking's own head).

    Float discipline: each term's feedback mass is a doc_id-ordered
    sequential fold (same doubles, same order, both engines), scaled
    once by idf and rounded at emit; ties after rounding break on term.
    Scale: the feedback set is fb_k rows broadcast into the postings
    join; candidate terms are one hash-agg over the feedback slice."""
    uniq = sorted(set(terms))
    order = [F.desc("score"), F.asc("doc_id")]
    fb = (
        bm25_scores_from_corpus(docs_df, terms)
        .orderBy(*order)
        .limit(fb_k)
        .select("doc_id")
    )
    tok = tokenized_docs(docs_df)
    post = exact_postings(tok)
    # n_docs rides the query job as a broadcast 1-row aggregate, cast to
    # the double the driver-side literal would have been.
    n_row = tok.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    tstats = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    fbp = (
        post.join(F.broadcast(fb), "doc_id")
        .where(~F.col("term").isin(uniq))
        .select(
            "term",
            "doc_id",
            (F.col("tf") / F.col("doclen")).alias("c"),
        )
    )
    per = fbp.groupBy("term").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("doc_id", "c"))),
            F.lit(0.0),
            lambda a, x: a + x["c"],
        ).alias("s"),
        F.count(F.lit(1)).alias("n_fb_docs"),
    )
    idf = idf_col(F.col("_n_docs"))
    return (
        per.join(tstats, "term")
        .crossJoin(F.broadcast(n_row))
        .select(
            "term",
            F.round(idf * F.col("s"), 6).alias("weight"),
            F.col("n_fb_docs").cast("long").alias("n_fb_docs"),
        )
        .orderBy(F.desc("weight"), F.asc("term"))
        .limit(n_terms)
    )

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the inverted index over the sf0.001
documents corpus and run a BM25 top-k query through the block-max WAND
path. ``queries()`` / ``oracle_sql()`` — one entry per implemented
operator from SURVEY.md §2 (+ the training-data-pipeline ops), each
checked against DuckDB at sf0.01 by the driver.
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unichem2index_spark import oracles
from unichem2index_spark.functions import esql as esql_mod
from unichem2index_spark.functions import hashing
from unichem2index_spark.functions import querystring as querystring_mod
from unichem2index_spark.functions.tokenize import tokens_col
from unichem2index_spark.operators import dedup, embdedup, multimodal, parity
from unichem2index_spark.operators import eventseq, ingestpipe, parentchild
from unichem2index_spark.operators import query as Q
from unichem2index_spark.operators import similarity, textstats, trainprep
from unichem2index_spark.operators import webgraph
from unichem2index_spark.operators.build import (
    build_index,
    corpus_stats,
    exact_postings,
    idf_col,
    tokenized_docs,
)
from unichem2index_spark.sources.tables import load_tables
from unichem2index_spark.streaming.incremental import batch_windowed_counts

FLAGSHIP_TERMS = ["the", "merge", "vector"]
FLAGSHIP_K = 12
RARE_TERMS = ["dup", "spark", "nosuchterm"]
PHRASE = ["merge", "group"]  # frequent bigram in the synthetic corpus
PHRASE_K = 10
BOOSTS = {"merge": 2.0, "the": 0.25}  # ES term^boost weights
MUST_NOT = ["dup"]  # ES bool must_not exclusion
PREFIX, PREFIX_EXP = "s", 4  # cap 4 < the 6 s-terms: exercises LIMIT
FUZZY_TERM, FUZZY_EDITS = "dat", 2  # expands to data/a/dup/fast/part/...
PAGE_OFFSET, PAGE_K = 10, 10  # ES from/size page 2
FVF_FACTOR = 0.001  # function_score field_value_factor on n_chars
FVF_WAND_FACTOR = 0.01  # WAND-served field_value_factor on doclen
GAUSS_WAND_ORIGIN = 300.0  # WAND-served gauss decay origin on doclen
CURSOR_RANK, SA_K = 5, 8  # search_after: cursor at rank 5, next 8 hits
GAUSS_ORIGIN = 300.0  # function_score gauss decay on n_chars
EXPLAIN_DOC = 7  # _explain target: contains all three flagship terms
SPAN_TERMS, SPAN_SLOP = ["merge", "group", "key"], 1  # span_near window 3
# span_containing: key inside a (merge NEAR group) span of window 4
SPAN_CONT_BIG, SPAN_CONT_LITTLE, SPAN_CONT_SLOP = ["merge", "group"], "key", 3
# span_within: scan scores, (fast NEAR slow) span is the filter
SPAN_WITHIN_BIG, SPAN_WITHIN_LITTLE, SPAN_WITHIN_SLOP = (
    ["fast", "slow"], "scan", 4,
)
# span_near over span_or clauses: (fast|slow) NEAR merge, window 3
SPAN_OR_GROUPS, SPAN_OR_SLOP = [["fast", "slow"], ["merge"]], 2
# intervals (ordered, max_gaps): merge then group then key, in order
INTERVALS_TERMS, INTERVALS_GAPS = ["merge", "group", "key"], 2
# match_phrase_prefix: "merge s*" — s? expands to scan/slow/small/sort
# under the cap of 4 (vocab also has spark/stream, trimmed by the cap)
PP_FIXED, PP_PREFIX, PP_MAX_EXP = ["merge"], "s", 4
# match_bool_prefix: rare fixed term OR f? (fast|filter), no adjacency
MBP_FIXED, MBP_PREFIX = ["dup"], "f"
# rank_feature saturation: pivot at the corpus median n_chars
RF_PIVOT, RF_BOOST = 300.0, 1.5
TE_PREFIX, TE_SIZE = "s", 4  # terms_enum: cap trims spark/stream
# _msearch: three sub-queries of one batch job (the serving shape)
MSEARCH = [
    (0, FLAGSHIP_TERMS, 5),
    (1, ["fast", "window"], 5),
    (2, ["dup"], 5),
]
GAUSS_DENOM = 22500.0 / math.log(2.0)  # 2*sigma^2 for scale=150, decay=0.5
WILDCARD, WILDCARD_EXP = "?a*", 5  # _a% matches 7 vocab terms; cap 5
MLT_DOC, MLT_TERMS, MLT_K = 42, 5, 10  # more_like_this source/params
DISMAX_TIE = 0.3  # dis_max tie_breaker
BOOSTING_NEG, BOOSTING_FACTOR = ["dup"], 0.4  # boosting query demotion
DIVERSE_FIELD, DIVERSE_PER_KEY = "source", 2  # diversified_sampler
RS_SEED = 7  # function_score random_score seed
SPAN_FIRST_TERM, SPAN_FIRST_END = "merge", 3  # span_first(end=3)
SPAN_NOT = ("merge", "group", 1)  # span_not: merge NOT within 1 of group
RANK_EVAL_MARKER = "key"  # _rank_eval binary judgment: doc contains term
NDCG_TERMS = ["merge", "vector"]  # _rank_eval dcg metric: query terms
NDCG_HI, NDCG_LO = "key", "vector"  # graded judgments: 2*hi + lo
LTR_K = 20  # ltr_features: training examples per query
PRF_FB_K, PRF_N_TERMS = 5, 15  # PRF: feedback docs, expansion terms
SCROLL_PAGE, SCROLL_AFTER = 15, 100  # scroll: page 15 after doc_id 100
SORT_FIELD, SORT_AFTER = "n_chars", (450, 0)  # field sort keyset cursor
TERMS_SET_TERMS = ["merge", "group", "key", "vector"]  # terms_set query
TERMS_SET_REQUIRED = "CASE WHEN lang = 'en' THEN 3 ELSE 2 END"
SUGGEST_PHRASE, SUGGEST_DIST, SUGGEST_SIZE = ("mrge", "grup"), 1, 5
ANALYZE_TEXT = "The MERGE-group KEY: fast vector scan, 42 rows!"
MGET_IDS = [3, 7, 42, 10**9]  # last id absent: found=false shape
SAMPLER_SIZE = 50  # sampler agg: sub-agg over the 50 best hits
# Average-Precision eval: (query_id, terms, relevance-marker term)
AP_QUERIES = [
    (0, ["merge", "group"], "key"),
    (1, ["fast", "window"], "scan"),
    (2, ["the", "vector"], "merge"),
]
AP_K = 20
TV_DOC = 7  # _termvectors target (same doc _explain inspects)
MTV_IDS = [7, 42, 10**9]  # _mtermvectors batch (last id absent)
PR_VALUES = (100.0, 300.0, 600.0)  # percentile_ranks probe doclens
PERCOLATE_QUERIES = [  # stored-query registry: (id, terms, min_match)
    (0, ["merge", "group", "key"], 3),
    (1, ["dup", "spark"], 1),
    (2, ["vector", "window", "stream", "sort"], 3),
    (3, ["the", "batch"], 2),
    (4, ["nosuchterm", "dup"], 2),  # unsatisfiable: 0 matches by design
]
MIDX_BOOSTS = (1.0, 1.5)  # indices_boost: even-doc index 1.0, odd 1.5
SYN_GROUPS = [["merge", "join"], ["fast", "quick"], ["vector"]]
CS_BOOST = 1.2  # constant_score boost
MIN_SCORE = 0.57  # min_score floor: binds INSIDE the top-k at sf0.01
PERCOLATE_PHRASES = [  # phrase registrations (ids disjoint from above)
    (10, ["merge", "group"]),
    (11, ["the", "merge", "group"]),
]


# --------------------------------------------------------------------------
# Index plumbing: build (or reuse) a segment index for a given sf_dir.
# --------------------------------------------------------------------------
def _index_for(spark: SparkSession, sf_dir: str) -> Q.IndexHandle:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"u2i_index_{tag}")
    store_manifest = os.path.join(out, "manifest.json")
    fresh = False
    if os.path.exists(store_manifest):
        import json as _json
        import shutil as _shutil

        with open(store_manifest) as f:
            if _json.load(f).get("format") == "parquet-v3":
                fresh = True
            else:  # stale layout from an older build — rebuild
                _shutil.rmtree(out, ignore_errors=True)
    if not fresh:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        build_index(spark, docs, out, n_shards=8, build_id="entry")
    return Q.IndexHandle.open(spark, out)


def _pos_index_for(spark: SparkSession, sf_dir: str) -> Q.IndexHandle:
    """Positional-index twin of :func:`_index_for` (separate cache dir —
    the positional layout carries the extra per-block positions blob)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"u2i_posidx_{tag}")
    store_manifest = os.path.join(out, "manifest.json")
    fresh = False
    if os.path.exists(store_manifest):
        import json as _json
        import shutil as _shutil

        with open(store_manifest) as f:
            mf = _json.load(f)
        if mf.get("format") == "parquet-v3" and mf.get("positions"):
            fresh = True
        else:
            _shutil.rmtree(out, ignore_errors=True)
    if not fresh:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        build_index(spark, docs, out, n_shards=8, build_id="entry-pos",
                    positions=True)
    return Q.IndexHandle.open(spark, out)


def _multi_index_for(spark: SparkSession, sf_dir: str):
    """Two physical sub-indexes (doc_id parity split) for the
    multi-index / indices_boost query — each built and cached like
    :func:`_index_for`, each carrying its OWN subset statistics."""
    handles = []
    for name, pred in (("a", "doc_id % 2 = 0"), ("b", "doc_id % 2 = 1")):
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        out = os.path.join(tempfile.gettempdir(), f"u2i_midx_{name}_{tag}")
        store_manifest = os.path.join(out, "manifest.json")
        fresh = False
        if os.path.exists(store_manifest):
            import json as _json
            import shutil as _shutil

            with open(store_manifest) as f:
                if _json.load(f).get("format") == "parquet-v3":
                    fresh = True
                else:
                    _shutil.rmtree(out, ignore_errors=True)
        if not fresh:
            docs = spark.read.parquet(
                f"{sf_dir}/documents.parquet"
            ).where(pred)
            build_index(spark, docs, out, n_shards=4,
                        build_id=f"entry-midx-{name}")
        handles.append(Q.IndexHandle.open(spark, out))
    return handles


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full index build + WAND BM25 top-k on sf0.001."""
    idx = _index_for(spark, "/root/testdata/sf0.001")
    return Q.bm25_topk_wand(spark, idx, FLAGSHIP_TERMS, FLAGSHIP_K)


# --------------------------------------------------------------------------
# queries()
# --------------------------------------------------------------------------
def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_bm25_topk(spark, sf_dir):
    return Q.bm25_topk_exact(_docs(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K)


def q_bm25_topk_wand(spark, sf_dir):
    """Same query through the compressed-segment WAND path — the oracle is
    the SAME SQL as the exact path (rank identity is the whole point)."""
    return Q.bm25_topk_wand(spark, _index_for(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K)


def q_bm25_rare_terms(spark, sf_dir):
    return Q.bm25_topk_exact(_docs(spark, sf_dir), RARE_TERMS, 10)


def q_bm25_min_should_match(spark, sf_dir):
    """ES minimum_should_match analog through the WAND path: same terms
    and scores as bm25_topk_wand, but only docs matching >= 2 of the 3
    query terms are eligible (kernel-level eligibility — pruning bounds
    untouched)."""
    return Q.bm25_topk_wand(
        spark, _index_for(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K,
        min_match=2,
    )


def q_bm25_boosted(spark, sf_dir):
    """ES per-term query boosts (term^boost) through the WAND path: idf
    pre-scaled per term, bounds recomputed (stored bounds assume boost=1)."""
    return Q.bm25_topk_wand(
        spark, _index_for(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K,
        boosts=BOOSTS,
    )


def q_bm25_must_not(spark, sf_dir):
    """ES bool must_not through the WAND path: excluded term's postings
    decode into the kernel's deleted-set per shard; survivors' scores are
    identical to the plain query (filter context)."""
    return Q.bm25_topk_must_not(
        spark, _index_for(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K,
        MUST_NOT,
    )


def q_bm25_prefix(spark, sf_dir):
    """ES prefix query (scoring_boolean rewrite): dictionary expansion
    (alphabetical, capped) + BM25-OR over the expansions via WAND."""
    return Q.bm25_topk_prefix(
        spark, _index_for(spark, sf_dir), PREFIX, 10,
        max_expansions=PREFIX_EXP,
    )


def q_bm25_fuzzy(spark, sf_dir):
    """ES fuzzy query: Levenshtein expansion against the term dictionary
    (length-window + map-side JVM levenshtein) + BM25-OR via WAND."""
    return Q.bm25_topk_fuzzy(
        spark, _index_for(spark, sf_dir), FUZZY_TERM, 10,
        max_edits=FUZZY_EDITS,
    )


def q_bm25_page2(spark, sf_dir):
    """ES from/size deep pagination: ranks (offset, offset+k] with the
    global rank attached; per-shard WAND depth offset+k (ES's cost)."""
    return Q.bm25_topk_paged(
        spark, _index_for(spark, sf_dir), FLAGSHIP_TERMS, PAGE_K,
        PAGE_OFFSET,
    )


def q_bm25_field_boost(spark, sf_dir):
    """ES function_score field_value_factor: BM25 * ln(1 + f*n_chars)
    (declarative corpus path — the oracle-checked form)."""
    return Q.bm25_topk_field_boost(
        _docs(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K, factor=FVF_FACTOR,
    )


def q_bm25_search_after(spark, sf_dir):
    """ES search_after: the cursor is the (raw_score, doc_id) sort key of
    the rank-CURSOR_RANK hit (what a client copies from the previous
    page), then the kernel returns the next SA_K ranked strictly after
    it — per-shard heap depth k regardless of cursor depth."""
    index = _index_for(spark, sf_dir)
    after = Q.bm25_cursor_at(spark, index, FLAGSHIP_TERMS, CURSOR_RANK)
    if after is None:
        return spark.createDataFrame([], "doc_id long, score double")
    return Q.bm25_topk_search_after(spark, index, FLAGSHIP_TERMS, SA_K, after)


def q_bm25_wildcard(spark, sf_dir):
    """ES wildcard query (scoring_boolean rewrite): LIKE expansion over
    the term dictionary (capped) + BM25-OR via WAND."""
    return Q.bm25_topk_wildcard(
        spark, _index_for(spark, sf_dir), WILDCARD, 10,
        max_expansions=WILDCARD_EXP,
    )


def q_more_like_this(spark, sf_dir):
    """ES more_like_this: top tf-idf terms of doc MLT_DOC drive a
    BM25-OR with the source doc excluded."""
    return Q.more_like_this(
        spark, _index_for(spark, sf_dir), _docs(spark, sf_dir),
        MLT_DOC, MLT_K, max_query_terms=MLT_TERMS,
    )


def q_bm25_dismax(spark, sf_dir):
    """ES dis_max over per-term subqueries: best clause + tie_breaker *
    rest (declarative corpus path — the oracle-checked form)."""
    return Q.bm25_topk_dismax(
        _docs(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K,
        tie_breaker=DISMAX_TIE,
    )


def q_bm25_boosting(spark, sf_dir):
    """ES boosting query: positive BM25, demoted (not excluded) by
    negative_boost when the doc also matches a negative term."""
    return Q.bm25_topk_boosting(
        _docs(spark, sf_dir), FLAGSHIP_TERMS, BOOSTING_NEG, FLAGSHIP_K,
        negative_boost=BOOSTING_FACTOR,
    )


def q_highlight(spark, sf_dir):
    """ES highlight (plain highlighter, one fragment): earliest query-term
    occurrence picks the matched term and centers the snippet, computed
    only for the k winners."""
    return Q.highlight_topk(_docs(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K)


QS_QUERY = '(merge AND group) OR ("batch batch" AND NOT vector)'
# simple_query_string: + is AND, | is OR, leading - negates, lenient
SQS_QUERY = 'merge + group + -vector | "slow fast"'
# distance_feature over the doc_id recency ordinal (0..499 at gate sf)
DF_ORIGIN, DF_PIVOT, DF_BOOST = 250, 60.0, 1.5
TL_DOC = 42  # terms lookup: "docs sharing doc 42's source"
PINNED_IDS = [7, 3, 11]  # editorial promotions, served in THIS order
PERCOLATE_QS = [
    (1, "merge AND group"),
    (2, '"batch batch" AND NOT vector'),
    (3, "zebra OR (dup AND slow)"),
]
ESQL_QUERY = (
    "FROM documents"
    " | EVAL bucket = n_chars % 7"
    ' | WHERE lang == "en" OR n_chars >= 300'
    " | STATS cnt = COUNT(*), total_chars = SUM(n_chars),"
    "         max_c = MAX(n_chars) BY source, bucket"
    " | SORT cnt DESC, source ASC, bucket ASC"
    " | LIMIT 12"
)


ESQL_ENRICH_QUERY = (
    "FROM orders"
    ' | WHERE o_orderpriority == "1-URGENT"'
    " | ENRICH customer ON o_custkey == c_custkey WITH c_nationkey"
    " | STATS n = COUNT(*), mx = ROUND(MAX(o_totalprice), 2) BY c_nationkey"
    " | SORT c_nationkey ASC"
    " | LIMIT 30"
)


ESQL_INLINESTATS_QUERY = (
    "FROM documents"
    " | INLINESTATS lang_max = MAX(n_chars), lang_docs = COUNT(*) BY lang"
    " | WHERE n_chars == lang_max"
    " | KEEP doc_id, lang, n_chars, lang_docs"
    " | SORT lang ASC, doc_id ASC"
    " | LIMIT 20"
)


def q_esql_inlinestats(spark, sf_dir):
    """ES|QL INLINESTATS (group aggregates joined back to rows — a
    window aggregate, never a self-join): each language's longest doc."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_INLINESTATS_QUERY), load_tables(spark, sf_dir)
    )


ESQL_FULLTEXT_QUERY = (
    "FROM documents"
    ' | WHERE CONTAINS_TERM(text, "merge") AND CONTAINS_TERM(text, "group")'
    " | STATS c = COUNT(*) BY lang"
    " | SORT lang ASC"
    " | LIMIT 10"
)


def q_esql_fulltext(spark, sf_dir):
    """ES|QL full-text WHERE (the match()-family): analyzer-tokenized
    term membership, identical tokenizer rendered to both engines."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_FULLTEXT_QUERY), load_tables(spark, sf_dir)
    )


# LOOKUP JOIN (ES|QL 8.18): join key must be a SHARED column name, so
# the pipeline RENAMEs the fact key onto the lookup index's key first.
ESQL_LOOKUP_QUERY = (
    "FROM orders"
    ' | WHERE o_orderpriority == "2-HIGH"'
    " | RENAME o_custkey AS c_custkey"
    " | LOOKUP JOIN customer ON c_custkey"
    ' | WHERE c_mktsegment == "BUILDING"'
    " | STATS n = COUNT(*), mx = ROUND(MAX(o_totalprice), 2) BY c_nationkey"
    " | SORT c_nationkey ASC"
    " | LIMIT 30"
)

# MV_EXPAND over a SPLIT-made multivalue column: long tokens histogram.
ESQL_MVEXPAND_QUERY = (
    "FROM documents"
    " | WHERE doc_id % 11 == 3"
    ' | EVAL tok = SPLIT(text, " ")'
    " | MV_EXPAND tok"
    " | WHERE LENGTH(tok) >= 6"
    " | STATS n = COUNT(*) BY tok"
    " | SORT n DESC, tok ASC"
    " | LIMIT 15"
)

ESQL_DISSECT_QUERY = (
    "FROM events"
    " | DISSECT props '{\"k\": %{kval}}'"
    " | STATS c = COUNT(*) BY kval"
    " | SORT c DESC, kval ASC"
    " | LIMIT 10"
)


def q_esql_dissect(spark, sf_dir):
    """ES|QL DISSECT: %{name}-hole pattern extraction compiled to the
    same anchored regex on both engines."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_DISSECT_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_enrich(spark, sf_dir):
    """ES|QL ENRICH (the lookup-policy join) compiled to a broadcast
    hash join + the same dual-rendered STATS tail."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_ENRICH_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_lookup_join(spark, sf_dir):
    """ES|QL LOOKUP JOIN (8.18): left join against a lookup index on a
    shared column name — compiled to a broadcast hash join; the same
    parsed pipeline renders the DuckDB oracle."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_LOOKUP_QUERY), load_tables(spark, sf_dir)
    )


# STATS per-agg WHERE (8.16): conditional aggregation — every filtered
# agg stays inside the ONE hash-aggregate (F.when / SQL FILTER).
ESQL_STATS_WHERE_QUERY = (
    "FROM events"
    ' | STATS errors = COUNT(*) WHERE event_type == "error",'
    "         big = COUNT(*) WHERE value > 75.0,"
    "         n = COUNT(*),"
    '         click_max = MAX(value) WHERE event_type == "click"'
    "   BY ub = user_id % 7"
    " | SORT ub ASC"
)

# BY BUCKET(ts, 1 day): grouping expression lowered to date_trunc on
# both engines. MIN/MAX (exact) instead of SUM(double) — float-sum
# order-dependence is banned by the repo's determinism discipline.
ESQL_BUCKET_QUERY = (
    "FROM events"
    ' | WHERE event_type IN ("click", "view")'
    " | STATS n = COUNT(*), vmin = MIN(value), vmax = MAX(value)"
    "   BY day = BUCKET(ts, 1 day), event_type"
    " | SORT day ASC, event_type ASC"
    " | LIMIT 40"
)

ESQL_CASE_QUERY = (
    "FROM events"
    ' | EVAL band = CASE(value < 25.0, "low", value < 75.0, "mid", "high")'
    " | STATS n = COUNT(*) BY band, event_type"
    " | SORT band ASC, event_type ASC"
)

# GROK: ingest-node pattern library (%{INT:kval}) over the JSON-ish
# props string — unanchored dual regexp_extract projection.
ESQL_GROK_QUERY = (
    "FROM events"
    " | GROK props '\"k\": %{INT:kval}'"
    " | WHERE LENGTH(kval) == 2"
    " | STATS n = COUNT(*) BY kval"
    " | SORT n DESC, kval ASC"
    " | LIMIT 10"
)


def q_esql_stats_where(spark, sf_dir):
    """ES|QL STATS per-aggregate WHERE (8.16): filtered aggregates as
    conditional aggregation — one shuffle, one hash-aggregate, the
    filters never fork extra scans."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_STATS_WHERE_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_bucket(spark, sf_dir):
    """ES|QL BUCKET grouping function in STATS BY: 1-day calendar
    buckets via date_trunc, a grouping EXPRESSION (BY alias = expr)."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_BUCKET_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_case(spark, sf_dir):
    """ES|QL CASE(cond, val, ..., default) in EVAL: chained WHEN on
    both engines — the banding/categorization idiom."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_CASE_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_grok(spark, sf_dir):
    """ES|QL GROK command: %{ALIAS:name} refs expanded from the shared
    ingest-node pattern library into one map-only regexp_extract
    projection (fuses into the scan at any scale)."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_GROK_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_mv_expand(spark, sf_dir):
    """ES|QL MV_EXPAND over a SPLIT-made multivalue column: one row per
    element (Spark explode == DuckDB unnest), then a token histogram."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_MVEXPAND_QUERY), load_tables(spark, sf_dir)
    )


def q_esql(spark, sf_dir):
    """Mini ES|QL: one parsed pipeline compiled to BOTH the Spark
    DataFrame program and the DuckDB oracle SQL (functions/esql.py) —
    the correctness gate checks the compiler itself."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(parse_esql(ESQL_QUERY), load_tables(spark, sf_dir))


def q_query_string(spark, sf_dir):
    """Lucene query_string mini-language: one parsed AST rendered to both
    the Spark eligibility expression and the DuckDB oracle predicate."""
    return Q.query_string_topk(spark, _docs(spark, sf_dir), QS_QUERY, 10)


def q_simple_query_string(spark, sf_dir):
    """ES simple_query_string: +/|/- operator characters, lenient
    parse, compiled to the SAME AST/renderers as query_string."""
    return Q.query_string_topk(
        spark, _docs(spark, sf_dir), SQS_QUERY, 10, syntax="simple"
    )


def q_combined_fields(spark, sf_dir):
    """ES combined_fields (BM25F): one combined pseudo-field — weighted
    tf/dl, single df/avgdl; contrast multi_match's per-field max."""
    return Q.combined_fields_topk(
        spark, _docs(spark, sf_dir), FLAGSHIP_TERMS, 12
    )


def q_distance_feature(spark, sf_dir):
    """ES distance_feature: additive proximity boost
    boost*pivot/(pivot+|doc_id-origin|) on top of BM25."""
    return Q.distance_feature_topk(
        _docs(spark, sf_dir),
        FLAGSHIP_TERMS,
        FLAGSHIP_K,
        origin=DF_ORIGIN,
        pivot=DF_PIVOT,
        boost=DF_BOOST,
    )


def q_rescore(spark, sf_dir):
    """ES rescore: BM25 top-50 window re-ranked by a constant-score
    match_phrase rescorer (query_weight=1, rescore_weight=2)."""
    return Q.rescore_topk(
        spark, _docs(spark, sf_dir), FLAGSHIP_TERMS, PHRASE, window=50, k=10
    )


def q_span_near(spark, sf_dir):
    """ES span_near (in_order=false) / intervals all_of: the three terms
    within a window of slop + n - 1 tokens in any order, through the
    positional index's block-skipping kernel."""
    return Q.span_near_topk(
        spark, _pos_index_for(spark, sf_dir), SPAN_TERMS, 10, slop=SPAN_SLOP
    )


def q_span_containing(spark, sf_dir):
    """ES span_containing: big = span_near(merge, group), little = key;
    matches where a valid big span covers a key occurrence; the BIG
    terms score (little is a pure filter)."""
    return Q.span_containing_topk(
        spark,
        _pos_index_for(spark, sf_dir),
        SPAN_CONT_BIG,
        SPAN_CONT_LITTLE,
        10,
        slop=SPAN_CONT_SLOP,
        mode="containing",
    )


def q_span_within(spark, sf_dir):
    """ES span_within: the dual — the LITTLE term scores, the enclosing
    big span is the filter (same kernel, different scoring set)."""
    return Q.span_containing_topk(
        spark,
        _pos_index_for(spark, sf_dir),
        SPAN_WITHIN_BIG,
        SPAN_WITHIN_LITTLE,
        10,
        slop=SPAN_WITHIN_SLOP,
        mode="within",
    )


# search_template: mustache holes rendered, then the shared QS path
ST_TEMPLATE = '({{a}} AND {{b}}) OR "{{p1}} {{p2}}"'
ST_PARAMS = {"a": "merge", "b": "group", "p1": "batch", "p2": "batch"}

# ES|QL order-statistic aggs: exact interpolated median/percentile
# (Spark percentile == DuckDB quantile_cont) + EXACT COUNT_DISTINCT
ESQL_MEDIAN_QUERY = (
    "FROM documents"
    " | STATS med = MEDIAN(n_chars),"
    "         p90 = ROUND(PERCENTILE(n_chars, 0.9), 6),"
    "         nsrc = COUNT_DISTINCT(source),"
    '         shortmed = MEDIAN(n_chars) WHERE n_chars < 300'
    "   BY lang"
    " | SORT lang ASC"
)

# _msearch/template: three param sets through ONE template
MST_PARAMS = [
    (0, {"a": "merge", "b": "group", "p1": "batch", "p2": "batch"}),
    (1, {"a": "fast", "b": "window", "p1": "slow", "p2": "fast"}),
    (2, {"a": "dup", "b": "scan", "p1": "sort", "p2": "merge"}),
]

# ES|QL multivalue family over a SPLIT-made column (two EVAL stages:
# each EVAL is its own projection, so no lateral-alias reliance)
ESQL_MV_STATS_QUERY = (
    "FROM documents"
    " | WHERE doc_id % 13 == 5"
    ' | EVAL t = SPLIT(text, " ")'
    " | EVAL n = MV_COUNT(t), first = MV_MIN(t), last = MV_MAX(t)"
    " | KEEP doc_id, n, first, last"
    " | SORT doc_id ASC"
    " | LIMIT 20"
)

# ES|QL string scalar family — every function in one pipeline; REPLACE
# is regex-based per ES|QL, LEFT/RIGHT are native on both engines
ESQL_STRING_FNS_QUERY = (
    "FROM documents"
    " | WHERE doc_id % 17 == 3"
    " | EVAL up = TO_UPPER(source), head = SUBSTRING(text, 1, 12),"
    " tail = RIGHT(text, 8)"
    ' | EVAL hdr = CONCAT(lang, "_", up),'
    ' is_src1 = STARTS_WITH(source, "src1"), has_e = ENDS_WITH(text, "e")'
    ' | EVAL clean = REPLACE(head, " ", "_"),'
    ' path = TRIM(CONCAT(" ", LEFT(source, 4), " ")),'
    ' lang2 = COALESCE(lang, "und")'
    " | KEEP doc_id, hdr, head, tail, clean, path, lang2, is_src1, has_e"
    " | SORT doc_id ASC"
    " | LIMIT 40"
)

# ES sparse_vector query weights: the learned-sparse serving shape with
# exact integer weights (the hash-checkable reading of ELSER's floats)
SPARSE_WEIGHTS = {"merge": 3, "group": 2, "window": 1, "fast": 2}

# ES|QL multivalue-returning aggs TOP / VALUES (serialized — canon rule)
ESQL_TOP_VALUES_QUERY = (
    "FROM documents"
    ' | STATS nd = COUNT(*), top_chars = TOP(n_chars, 5, "desc"),'
    " langs = VALUES(lang) BY source"
    " | SORT source ASC"
)

# ES|QL date scalar family — ES|QL's duration-first DATE_TRUNC plus
# the verified-safe DATE_EXTRACT parts and DATE_FORMAT patterns
ESQL_DATE_FNS_QUERY = (
    "FROM events"
    " | WHERE event_id % 11 == 4"
    " | EVAL day = DATE_TRUNC(1 day, ts),"
    ' y = DATE_EXTRACT("year", ts), mo = DATE_EXTRACT("month", ts),'
    ' hh = DATE_EXTRACT("hour", ts), ds = DATE_FORMAT("yyyy-MM-dd", ts)'
    " | KEEP event_id, day, y, mo, hh, ds"
    " | SORT event_id ASC"
    " | LIMIT 30"
)

# ES|QL IS NULL / IS NOT NULL via LOOKUP JOIN misses (doc_id % 30
# reaches past nation's 0..24 key range, so ids 25-29 miss → nulls)
ESQL_NULL_PREDICATES_QUERY = (
    "FROM documents"
    " | EVAL n_nationkey = doc_id % 30"
    " | LOOKUP JOIN nation ON n_nationkey"
    " | STATS missing = COUNT(*) WHERE n_name IS NULL,"
    " matched = COUNT(*) WHERE n_name IS NOT NULL BY n_nationkey"
    " | SORT n_nationkey ASC"
)

# ES|QL SAMPLE command (8.16): deterministic 1/4 hash-bucket sample
# of documents, then a grouped STATS over the kept rows — the shape
# every "profile a slice of the corpus" pipeline takes.
ESQL_SAMPLE_QUERY = (
    "FROM documents"
    " | SAMPLE 0.25"
    " | STATS n = COUNT(*), chars = SUM(n_chars) BY lang"
    " | SORT lang ASC"
)

# ES|QL FORK command (9.x): two branch sub-pipelines over the shared
# scan, tagged _fork and unioned — the multi-strategy search shape.
ESQL_FORK_QUERY = (
    "FROM documents"
    " | FORK"
    "   (WHERE n_chars > 400 | EVAL sel = 'long')"
    "   (WHERE contains_term(text, 'merge') | EVAL sel = 'merge')"
    " | STATS n = COUNT(*), chars = SUM(n_chars) BY _fork, sel, lang"
    " | SORT _fork ASC, sel ASC, lang ASC"
)

# ES|QL STATS BY CATEGORIZE (8.18): log-triage categories as a
# grouping expression (deterministic prefix-skeleton reading).
ESQL_CATEGORIZE_QUERY = (
    "FROM documents"
    " | STATS n = COUNT(*), chars = SUM(n_chars)"
    " BY cat = CATEGORIZE(text)"
    " | SORT n DESC, cat ASC"
    " | LIMIT 10"
)

# ES|QL CHANGE_POINT command (8.18) over a BUCKET'd STATS series
ESQL_CHANGE_POINT_QUERY = (
    "FROM events"
    " | STATS n = COUNT(*) BY day = BUCKET(ts, 1 day), event_type"
    " | CHANGE_POINT n ON day BY event_type"
    " | SORT event_type ASC"
)

# ES|QL ROW source: literal one-row table through the full pipe
ESQL_ROW_QUERY = (
    'ROW s = "merge group merge sort", n = 7'
    ' | EVAL t = SPLIT(s, " ")'
    " | MV_EXPAND t"
    " | STATS c = COUNT(*), mx = MAX(n) BY t"
    " | SORT t ASC"
)


def q_search_template(spark, sf_dir):
    """ES search_template: {{mustache}} holes rendered from params,
    then the rendered string runs the normal query_string path."""
    from unichem2index_spark.functions.querystring import (
        render_search_template,
    )

    return Q.query_string_topk(
        spark,
        _docs(spark, sf_dir),
        render_search_template(ST_TEMPLATE, ST_PARAMS),
        10,
    )


def q_collapse_inner_hits(spark, sf_dir):
    """ES collapse + inner_hits: top-k collapsed groups, each with its
    group's top-2 hits — ONE window rank serves both roles, emitted as
    flat (group_rank, inner_rank) rows."""
    return Q.collapse_inner_hits_topk(
        _docs(spark, sf_dir), FLAGSHIP_TERMS, 8, inner_size=2
    )


def q_msearch_template(spark, sf_dir):
    """ES _msearch/template: one template, three param sets, one union
    plan — each sub-search row-identical to its standalone render."""
    return Q.msearch_template_topk(
        spark, _docs(spark, sf_dir), ST_TEMPLATE, MST_PARAMS, 8
    )


def q_esql_mv_stats(spark, sf_dir):
    """ES|QL multivalue functions MV_COUNT/MV_MIN/MV_MAX over a
    SPLIT-made column — per-row size and element extremes."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_MV_STATS_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_date_fns(spark, sf_dir):
    """ES|QL date scalar family: DATE_TRUNC (duration-first) /
    DATE_EXTRACT (long-pinned parts) / DATE_FORMAT (verified strftime
    twins), one pipeline dual-rendered."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_DATE_FNS_QUERY), load_tables(spark, sf_dir)
    )


def q_analyze_edge_ngrams(spark, sf_dir):
    """ES _analyze + edge_ngram filter (preserve_original): the
    search-as-you-type index analyzer."""
    return Q.analyze_edge_ngrams(spark, ANALYZE_TEXT)


def q_esql_null_predicates(spark, sf_dir):
    """ES|QL IS NULL / IS NOT NULL (missing-field predicate) counted
    via per-agg WHERE over LOOKUP JOIN misses."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_NULL_PREDICATES_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_sample(spark, sf_dir):
    """ES|QL SAMPLE (8.16): deterministic hash-bucket row sampling
    mid-pipeline (p = 1/k exact), dual-rendered."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_SAMPLE_QUERY), load_tables(spark, sf_dir)
    )


def q_asof_join(spark, sf_dir):
    """As-of join (latest view at-or-before each purchase, per user):
    union + one window pass, never a range-join explosion. Tie at equal
    right ts broken by the max payload struct (event_id unique)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    left = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    right = ev.where(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts", "value"
    )
    return eventseq.asof_join(
        left, right, "user_id", "ts", ["event_id", "value"]
    ).orderBy("event_id")


def q_esql_fork(spark, sf_dir):
    """ES|QL FORK (9.x): branch sub-pipelines over one scan, tagged
    and unioned, dual-rendered (Spark UNION / SQL UNION ALL)."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_FORK_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_categorize(spark, sf_dir):
    """ES|QL STATS BY CATEGORIZE(text) (8.18): deterministic
    prefix-skeleton categories as a grouping expression."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_CATEGORIZE_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_string_fns(spark, sf_dir):
    """ES|QL string scalar family: CONCAT/SUBSTRING/TO_UPPER/TO_LOWER/
    STARTS_WITH/ENDS_WITH/COALESCE/TRIM/LEFT/RIGHT/REPLACE, one
    pipeline dual-rendered."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_STRING_FNS_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_top_values(spark, sf_dir):
    """ES|QL TOP/VALUES multivalue aggs, serialized per the repo's
    canon-compat list rule."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_TOP_VALUES_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_median(spark, sf_dir):
    """ES|QL MEDIAN/PERCENTILE/COUNT_DISTINCT in STATS (exact forms —
    the values ES's t-digest/HLL estimates converge to), incl. one
    filtered median via the per-agg WHERE."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_MEDIAN_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_change_point(spark, sf_dir):
    """ES|QL CHANGE_POINT command: the deterministic CUSUM-style step
    scan over a piped BUCKET'd series, per event_type."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(
        parse_esql(ESQL_CHANGE_POINT_QUERY), load_tables(spark, sf_dir)
    )


def q_esql_row(spark, sf_dir):
    """ES|QL ROW source: a literal one-row table piped through
    SPLIT/MV_EXPAND/STATS — the computed-constants source command."""
    from unichem2index_spark.functions.esql import compile_spark, parse_esql

    return compile_spark(parse_esql(ESQL_ROW_QUERY), {})


def q_terms_lookup(spark, sf_dir):
    """ES terms lookup: the filter's value set comes from ANOTHER
    document's field, resolved as a broadcast semi-join (no collect)."""
    return Q.terms_lookup(spark, _docs(spark, sf_dir), TL_DOC, "source", 15)


def q_span_near_or(spark, sf_dir):
    """ES span_near whose clauses are span_or groups — one position per
    group (any member) inside the window, synonym-blend scoring —
    through the positional index's block-skipping kernel."""
    return Q.span_near_or_topk(
        spark,
        _pos_index_for(spark, sf_dir),
        SPAN_OR_GROUPS,
        10,
        slop=SPAN_OR_SLOP,
    )


def q_intervals_ordered(spark, sf_dir):
    """ES intervals query (match source, ordered=true, max_gaps):
    strictly-increasing positions in query order within the gap budget
    — the ordered complement of span_near — through the positional
    index's block-skipping kernel + ordered-chain sweep."""
    return Q.intervals_ordered_topk(
        spark,
        _pos_index_for(spark, sf_dir),
        INTERVALS_TERMS,
        10,
        max_gaps=INTERVALS_GAPS,
    )


def q_match_phrase_prefix(spark, sf_dir):
    """ES match_phrase_prefix (search-as-you-type): fixed terms in
    adjacent positions followed by ANY dictionary expansion of the
    prefix — global deterministic expansion (unlike ES's per-shard
    one), synonym-blended scoring slot for the group — through the
    positional index's block-skipping kernel."""
    return Q.match_phrase_prefix_topk(
        spark,
        _pos_index_for(spark, sf_dir),
        PP_FIXED,
        PP_PREFIX,
        10,
        max_expansions=PP_MAX_EXP,
    )


def q_match_bool_prefix(spark, sf_dir):
    """ES match_bool_prefix (the other search-as-you-type half): bool
    SHOULD of per-term clauses + one synonym-blended slot for the
    prefix expansion, no adjacency — composed over the corpus path's
    SynonymQuery blend."""
    return Q.match_bool_prefix_topk(
        spark, _docs(spark, sf_dir), MBP_FIXED, MBP_PREFIX, 10
    )


def q_msearch(spark, sf_dir):
    """ES _msearch: the whole query set in ONE Spark job — segments
    scanned once with term IN (union of terms), per-shard WAND per
    sub-query inside a single applyInPandas stage, one global window
    per query_id. Each sub-query rank- and score-identical to
    bm25_topk_wand run one-by-one."""
    return Q.bm25_topk_batch(
        spark,
        _index_for(spark, sf_dir),
        [{"query_id": q, "terms": ts, "k": k} for q, ts, k in MSEARCH],
    )


def q_rank_feature(spark, sf_dir):
    """ES rank_feature (saturation): BM25 + boost * x/(x+pivot) over
    the n_chars feature — the additive bounded static-signal boost."""
    return Q.rank_feature_topk(
        _docs(spark, sf_dir),
        FLAGSHIP_TERMS,
        FLAGSHIP_K,
        pivot=RF_PIVOT,
        boost=RF_BOOST,
    )


def q_terms_enum(spark, sf_dir):
    """ES _terms_enum: dictionary terms under a prefix, alphabetical,
    capped — one pushed StartsWith scan over term_stats."""
    return Q.terms_enum(
        spark, _index_for(spark, sf_dir), TE_PREFIX, size=TE_SIZE
    )


def q_span_first(spark, sf_dir):
    """ES span_first wrapping a span_term: the term within the first N
    token positions — the lead-paragraph boost — through the positional
    index."""
    return Q.span_first_topk(
        spark, _pos_index_for(spark, sf_dir), SPAN_FIRST_TERM, 10,
        SPAN_FIRST_END,
    )


def q_span_not(spark, sf_dir):
    """ES span_not: include-term occurrences with no exclude term within
    dist tokens — negation-by-proximity through the positional index."""
    inc, exc, dist = SPAN_NOT
    return Q.span_not_topk(
        spark, _pos_index_for(spark, sf_dir), inc, exc, 10, dist=dist
    )


def q_diversified_topk(spark, sf_dir):
    """ES diversified_sampler: top-k with at most per_key docs per source
    — bounded per-site representation, one window on the diversity key."""
    return Q.diversified_topk(
        _docs(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K,
        field=DIVERSE_FIELD, per_key=DIVERSE_PER_KEY,
    )


def q_match_count(spark, sf_dir):
    """ES _count API for bool-must: number of docs containing ALL terms,
    no scoring, one row."""
    return Q.match_count(_docs(spark, sf_dir), FLAGSHIP_TERMS)


def q_random_score(spark, sf_dir):
    """ES function_score random_score (seeded, multiply): deterministic
    per-doc jitter — exact integer mix, one float divide."""
    return Q.random_score_topk(
        _docs(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K, seed=RS_SEED
    )


def q_percolate(spark, sf_dir):
    """ES percolator: which stored queries match each doc — reverse
    search over a broadcast query registry, one pass over postings."""
    return Q.percolate(spark, _docs(spark, sf_dir), PERCOLATE_QUERIES)


def q_percolate_mixed(spark, sf_dir):
    """ES percolator with BOTH term-set and match_phrase registrations:
    phrase needles broadcast and match via the sentinel-space substring
    identity — one extra map-side pass, no shuffle."""
    return Q.percolate(
        spark, _docs(spark, sf_dir), PERCOLATE_QUERIES,
        phrase_queries=PERCOLATE_PHRASES,
    )


def q_resize_images(spark, sf_dir):
    """Multimodal resize plumbing: images pruned before Python, one
    Arrow pass, fixed-size binary thumb per image (byte-space stride —
    the PIL swap point; rows-only entry, pytest-oracled)."""
    return multimodal.resize_images(
        multimodal.media_from_documents(_docs(spark, sf_dir)),
        out_width=8, out_height=8,
    )


def q_frame_sample(spark, sf_dir):
    """Multimodal frame sampling: videos fan out 1->N frame rows in one
    Arrow pass (equal-stride byte windows — the ffmpeg swap point;
    rows-only entry, pytest-oracled)."""
    return multimodal.sample_frames(
        multimodal.media_from_documents(_docs(spark, sf_dir)), n_frames=4
    )


def q_rank_eval(spark, sf_dir):
    """ES _rank_eval: precision@k / recall@k / MRR of the BM25 top-k
    against a deterministic binary judgment set."""
    return Q.rank_eval(
        _docs(spark, sf_dir), PHRASE, PHRASE_K, RANK_EVAL_MARKER
    )


def q_ndcg_eval(spark, sf_dir):
    """ES _rank_eval `dcg` metric: nDCG@k of the BM25 top-k against
    graded judgments (rel = 2*has(hi_marker) + has(lo_marker))."""
    return Q.ndcg_eval(
        _docs(spark, sf_dir), NDCG_TERMS, PHRASE_K, NDCG_HI, NDCG_LO
    )


def q_prf_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion: top expansion terms
    from the BM25 top-PRF_FB_K feedback docs (Rocchio/RM-style)."""
    return Q.prf_expansion(
        _docs(spark, sf_dir), NDCG_TERMS, PRF_FB_K, PRF_N_TERMS
    )


def q_rocchio_knn(spark, sf_dir):
    """Rocchio relevance feedback in embedding space: BM25 top-PRF_FB_K
    head -> centroid query -> cosine top-k over the rest."""
    from unichem2index_spark.operators import similarity as S

    return S.rocchio_knn(
        spark, load_tables(spark, sf_dir), NDCG_TERMS, PRF_FB_K, PHRASE_K
    )


def q_ltr_features(spark, sf_dir):
    """LTR training-example extraction: feature vector + graded label
    for the BM25 top-k (reranker export table)."""
    return Q.ltr_features(
        _docs(spark, sf_dir), NDCG_TERMS, LTR_K, NDCG_HI, NDCG_LO
    )


def q_scroll(spark, sf_dir):
    """ES scroll / search_after-on-_doc: the bulk-export page — bool-must
    matches in doc_id order, keyset cursor, no scoring."""
    return Q.scroll_page(
        _docs(spark, sf_dir), PHRASE, SCROLL_PAGE, after_doc_id=SCROLL_AFTER
    )


def q_analyze(spark, sf_dir):
    """ES _analyze: the shared tokenizer over a literal string —
    (position, token), the analyzer-debug endpoint."""
    return Q.analyze_text(spark, ANALYZE_TEXT)


def q_mget(spark, sf_dir):
    """ES _mget: point lookups by id list; the absent id is simply
    missing (found=false)."""
    return Q.mget(_docs(spark, sf_dir), MGET_IDS)


def q_field_sort(spark, sf_dir):
    """ES field sort + search_after keyset cursor: bool-must filter
    context, sort by (n_chars desc, doc_id asc), cursor predicate pushed
    to the docs scan."""
    return Q.sort_topk(
        _docs(spark, sf_dir), PHRASE, PHRASE_K, field=SORT_FIELD,
        after=SORT_AFTER,
    )


def q_analyze_shingles(spark, sf_dir):
    """ES _analyze with a shingle filter: the analyzer's unigrams plus
    word bigrams at their first word's position."""
    return Q.analyze_shingles(spark, ANALYZE_TEXT)


def q_mterm_vectors(spark, sf_dir):
    """ES _mtermvectors: term_vectors for a doc SET in one call — one
    corpus-stats pass, one broadcast of the requested docs' terms."""
    return Q.mterm_vectors(_docs(spark, sf_dir), MTV_IDS)


def q_term_vectors(spark, sf_dir):
    """ES _termvectors (term_statistics=true): one doc's terms with tf,
    0-based positions, corpus df/ttf."""
    return Q.term_vectors(_docs(spark, sf_dir), TV_DOC)


def q_sampler_terms(spark, sf_dir):
    """ES sampler agg: terms sub-agg over only the top-N best-scoring
    hits — constant sub-agg cost regardless of match-set size."""
    return textstats.sampler_terms(
        spark, load_tables(spark, sf_dir), PHRASE, shard_size=SAMPLER_SIZE
    )


def q_stats_bucket(spark, sf_dir):
    """ES stats_bucket pipeline agg: per-series stats across the
    date-histogram bucket counts."""
    return textstats.stats_bucket(spark, load_tables(spark, sf_dir))


def q_percentile_ranks(spark, sf_dir):
    """ES percentile_ranks over doclen: percent of docs at or below each
    probe value, one conditional-agg pass."""
    return textstats.percentile_ranks(
        spark, load_tables(spark, sf_dir), values=PR_VALUES
    )


def q_bm25_fvf_wand(spark, sf_dir):
    """function_score field_value_factor served THROUGH the WAND kernel:
    block bounds scaled by the global multiplier bound stay admissible,
    exact multiplied scores, no rescore pass — the index-path twin of
    bm25_field_boost."""
    return Q.bm25_topk_field_boost_wand(
        spark, _index_for(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K,
        field="doclen", factor=FVF_WAND_FACTOR,
    )


def q_bm25_gauss_wand(spark, sf_dir):
    """gauss decay served through the kernel: multiplier bounded by 1,
    stored WAND bounds already admissible, exact decayed top-k."""
    return Q.bm25_topk_gauss_decay_wand(
        spark, _index_for(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K,
        origin=GAUSS_WAND_ORIGIN, denom=GAUSS_DENOM, field="doclen",
    )


def q_bm25_random_wand(spark, sf_dir):
    """random_score served through the kernel as a CALLABLE multiplier —
    closed-form jitter, zero extra shuffle; same oracle as the corpus
    path (identity is the point)."""
    return Q.bm25_topk_random_score_wand(
        spark, _index_for(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K,
        seed=RS_SEED,
    )


def q_bm25_synonyms(spark, sf_dir):
    """Query-time synonyms (SynonymQuery blend): per-doc tf summed over
    group members, df blended as max of member dfs — one scoring slot
    per group ("quick" is absent from the vocab: blends df from "fast"
    alone)."""
    return Q.bm25_topk_synonyms(
        spark, _docs(spark, sf_dir), SYN_GROUPS, FLAGSHIP_K
    )


def q_constant_score(spark, sf_dir):
    """ES constant_score: every bool-must match scores boost, no
    relevance computation at all."""
    return Q.constant_score_page(
        _docs(spark, sf_dir), PHRASE, FLAGSHIP_K, boost=CS_BOOST
    )


def q_min_score(spark, sf_dir):
    """ES min_score: raw-score floor before the top-k."""
    return Q.bm25_topk_min_score(
        _docs(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K, MIN_SCORE
    )


def q_multi_index(spark, sf_dir):
    """ES multi-index search (logs-* alias + indices_boost): one query
    over two physical indexes, per-index statistics and boosts, one
    global merge."""
    ha, hb = _multi_index_for(spark, sf_dir)
    return Q.bm25_topk_multi_index(
        spark, [(ha, MIDX_BOOSTS[0]), (hb, MIDX_BOOSTS[1])],
        FLAGSHIP_TERMS, FLAGSHIP_K,
    )


def q_terms_set(spark, sf_dir):
    """ES terms_set: per-doc dynamic minimum_should_match from a metadata
    expression; eligible docs score as the BM25 bag over matched terms."""
    return Q.terms_set_topk(
        _docs(spark, sf_dir), TERMS_SET_TERMS, FLAGSHIP_K,
        required_expr=TERMS_SET_REQUIRED,
    )


def q_phrase_suggest(spark, sf_dir):
    """ES phrase suggester ("did you mean"): per-slot Levenshtein
    candidates reranked by adjacent-bigram corpus frequency."""
    return textstats.phrase_suggest(
        spark, load_tables(spark, sf_dir), phrase=SUGGEST_PHRASE,
        max_dist=SUGGEST_DIST, size=SUGGEST_SIZE,
    )


def q_collapse_topk(spark, sf_dir):
    """ES collapse (field collapsing): best doc per source only — the
    diversified-SERP shape; one window partitioned by the collapse key."""
    return Q.collapse_topk(_docs(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K)


def q_explain_score(spark, sf_dir):
    """ES _explain analog: per-term BM25 breakdown (tf/df/idf/weight/
    contribution) for one (query, doc) pair."""
    return Q.explain_score(_docs(spark, sf_dir), FLAGSHIP_TERMS, EXPLAIN_DOC)


def q_bm25_gauss_decay(spark, sf_dir):
    """ES function_score gauss decay on n_chars (origin=300, scale=150,
    decay=0.5): prefer docs near the ideal length. The 2*sigma^2
    denominator is precomputed in Python so both engines consume one
    float literal."""
    return Q.bm25_topk_gauss_decay(
        _docs(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K,
        origin=GAUSS_ORIGIN, denom=GAUSS_DENOM,
    )


def q_bm25_filtered(spark, sf_dir):
    """ES bool-query analog (match + lang filter) through the WAND path
    with a per-shard cogrouped filter bitset; scores identical to the
    unfiltered query on the same docs (ES filter-context semantics)."""
    return Q.bm25_topk_filtered(
        spark, _index_for(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K,
        "lang = 'en'",
    )


def q_phrase_topk(spark, sf_dir):
    """Exact-phrase BM25 over the POSITIONAL index (W4+, beyond-reference:
    the ES match_phrase the reference's index supports but never issues).
    Oracle: substring match over the space-joined token list + the same
    BM25 expression — value-hash identical."""
    return Q.phrase_topk(spark, _pos_index_for(spark, sf_dir), PHRASE, PHRASE_K)


def q_term_stats(spark, sf_dir):
    tok = tokenized_docs(_docs(spark, sf_dir))
    stats = corpus_stats(tok)
    return (
        exact_postings(tok)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
        .withColumn("idf", F.round(idf_col(stats["n_docs"]), 6))
        .orderBy("term")
    )


def q_corpus_stats(spark, sf_dir):
    tok = tokenized_docs(_docs(spark, sf_dir))
    post = exact_postings(tok)
    return tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doclen").alias("total_tokens"),
    ).crossJoin(post.agg(F.countDistinct("term").alias("vocab_size"))).select(
        "n_docs",
        "total_tokens",
        "vocab_size",
        F.round(
            F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("avgdl"),
    )


def q_doc_lengths(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.size(tokens_col("text")).cast("long").alias("doclen"))
        .orderBy("doc_id")
    )


def q_postings_sample(spark, sf_dir):
    tok = tokenized_docs(_docs(spark, sf_dir))
    return (
        exact_postings(tok)
        .where(F.col("term").isin(["merge", "dup"]))
        .select("term", "doc_id", "tf")
        .orderBy("term", "doc_id")
    )


def q_index_count(spark, sf_dir):
    return _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("doc_count"))


def q_last_doc_id(spark, sf_dir):
    return _docs(spark, sf_dir).agg(F.max("doc_id").alias("last_doc_id"))


def q_counts_by_source(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("source"))
        .limit(3000)
    )


def q_index_update_lifecycle(spark, sf_dir):
    """Rows-only lifecycle op (reference -u update mode, main.go:112-115):
    build a webtext index, add an incremental generation (replacements get
    tombstones, new urls get new doc_ids), compact, and return the top-k —
    deterministic by construction (seeded synth corpus, frozen query)."""
    import datetime as dt
    import shutil

    from unichem2index_spark.operators.ingest import build_index_from_webtext
    from unichem2index_spark.operators.update import add_generation, compact
    from unichem2index_spark.schemas import WEBTEXT_SCHEMA
    from unichem2index_spark.synth import gen_webtext, gen_webtext_row

    out = os.path.join(tempfile.gettempdir(), "u2i_lifecycle_idx")
    shutil.rmtree(out, ignore_errors=True)
    base_rows = gen_webtext(150, seed=42)
    base = spark.createDataFrame(base_rows, schema=WEBTEXT_SCHEMA)
    build_index_from_webtext(spark, base, out, n_shards=4)

    upd_rows = []
    for j, r in enumerate(base_rows[:30]):
        nr = gen_webtext_row(5_000 + j, seed=9)
        nr["url"] = r["url"]
        nr["warc_ts"] = r["warc_ts"] + dt.timedelta(days=400)
        upd_rows.append(nr)
    upd_rows += [gen_webtext_row(6_000 + j, seed=9) for j in range(20)]
    upd = spark.createDataFrame(upd_rows, schema=WEBTEXT_SCHEMA)
    add_generation(spark, out, upd, build_id="entry-upd")
    compact(spark, out)
    idx = Q.IndexHandle.open(spark, out)
    return Q.bm25_topk_wand(spark, idx, FLAGSHIP_TERMS, FLAGSHIP_K)


def q_delete_by_query_lifecycle(spark, sf_dir):
    """Rows-only lifecycle op (ES _delete_by_query): build a webtext
    index, tombstone a predicate slice as a deletes-only generation,
    compact, return the top-k — deterministic by construction. The
    strong oracle is tests/test_delete_by_query.py (count identity,
    visibility gating, post-compaction rank+score identity with a
    fresh build over the survivors)."""
    import shutil

    from unichem2index_spark.operators.ingest import build_index_from_webtext
    from unichem2index_spark.operators.update import compact, delete_by_query
    from unichem2index_spark.schemas import WEBTEXT_SCHEMA
    from unichem2index_spark.synth import gen_webtext

    out = os.path.join(tempfile.gettempdir(), "u2i_dbq_idx")
    shutil.rmtree(out, ignore_errors=True)
    base = spark.createDataFrame(gen_webtext(150, seed=42), schema=WEBTEXT_SCHEMA)
    build_index_from_webtext(spark, base, out, n_shards=4)
    delete_by_query(spark, out, "doclen >= 120", build_id="entry-dbq")
    compact(spark, out)
    idx = Q.IndexHandle.open(spark, out)
    return Q.bm25_topk_wand(spark, idx, FLAGSHIP_TERMS, FLAGSHIP_K)


def q_reindex_lifecycle(spark, sf_dir):
    """Rows-only lifecycle op (ES _reindex): build a webtext index with a
    live tombstone generation, reindex the `doclen < 120` slice into a
    fresh destination re-sharded 4->8, and return the destination's
    top-k — deterministic by construction. The strong oracle is
    tests/test_reindex.py (doc_id preservation, tombstone + predicate
    filtering, rank+score identity with a fresh build over exactly the
    copied docs, positional-phrase identity)."""
    import shutil

    from unichem2index_spark.operators.ingest import build_index_from_webtext
    from unichem2index_spark.operators.update import delete_by_query, reindex
    from unichem2index_spark.schemas import WEBTEXT_SCHEMA
    from unichem2index_spark.synth import gen_webtext

    src = os.path.join(tempfile.gettempdir(), "u2i_reidx_src")
    dst = os.path.join(tempfile.gettempdir(), "u2i_reidx_dst")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    base = spark.createDataFrame(gen_webtext(150, seed=42), schema=WEBTEXT_SCHEMA)
    build_index_from_webtext(spark, base, src, n_shards=4)
    delete_by_query(spark, src, "doclen >= 160", build_id="entry-reidx-del")
    reindex(spark, src, dst, predicate="doclen < 120", n_shards=8)
    idx = Q.IndexHandle.open(spark, dst)
    return Q.bm25_topk_wand(spark, idx, FLAGSHIP_TERMS, FLAGSHIP_K)


def q_csv_roundtrip(spark, sf_dir):
    """S4/S5: pipe-CSV spool sink -> pipe-CSV source round-trip (ref:
    alter/spool2M.sql:13-35 spools '|' CSVs, alter/testDataLoader.go:42-61
    loads them with r.Comma='|'). The oracle reads the ORIGINAL parquet,
    so a hash match proves the CSV round-trip is lossless across types
    (bigint, double, timestamp, varchar)."""
    from unichem2index_spark.sources.tables import read_pipe_csv, write_pipe_csv

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"u2i_csv_{tag}")
    write_pipe_csv(orders, path)
    return read_pipe_csv(spark, path, schema=orders.schema).orderBy("o_orderkey")


def q_stream_dedup_latest(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    newest-per-key dedup with cross-batch state — the streaming twin of
    the reference's url-keyed doc_as_upsert stale-drop
    (extractor/loader.go:186). Run here with Trigger.Once (exactly one
    micro-batch over the documents table, key=source, recency=doc_id),
    which makes the emission set SQL-expressible: the argmax-doc_id row
    per source — so this streaming operator gets a full DuckDB value-hash
    oracle, not just a rows-only check. Cross-batch state suppression is
    pytest-covered (tests/test_stateful_stream.py, maxFilesPerTrigger=1)."""
    import shutil

    from unichem2index_spark.streaming.stateful import stream_dedup_latest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    ckpt = os.path.join(tempfile.gettempdir(), f"u2i_sdl_ckpt_{tag}")
    shutil.rmtree(ckpt, ignore_errors=True)
    # The file streaming source wants a DIRECTORY; the fixture table is a
    # single parquet file — stage it into one.
    src_dir = os.path.join(tempfile.gettempdir(), f"u2i_sdl_src_{tag}")
    if not os.path.exists(os.path.join(src_dir, "part-0.parquet")):
        os.makedirs(src_dir, exist_ok=True)
        shutil.copyfile(
            f"{sf_dir}/documents.parquet",
            os.path.join(src_dir, "part-0.parquet"),
        )
    name = f"u2i_sdl_{tag}"
    out = stream_dedup_latest(
        spark,
        src_dir,
        docs.schema,
        key_col="source",
        ts_col="doc_id",
        out_cols=["source", "doc_id", "n_chars"],
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(once=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).orderBy("source")


def q_stream_sessionize(spark, sf_dir):
    """Streaming sessionization: the SAME native session_window
    aggregation as the batch `sessionize` entry, run as a Structured
    Streaming query (complete mode — sessions can grow/merge
    retroactively) with Trigger.Once over the events table, then the
    shared session projection. Emission set == batch sessionize, so
    this streaming operator gets the full DuckDB value-hash oracle."""
    import shutil

    from unichem2index_spark.operators.eventseq import finish_sessions
    from unichem2index_spark.streaming.stateful import stream_sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    ckpt = os.path.join(tempfile.gettempdir(), f"u2i_ssz_ckpt_{tag}")
    shutil.rmtree(ckpt, ignore_errors=True)
    src_dir = os.path.join(tempfile.gettempdir(), f"u2i_ssz_src_{tag}")
    if not os.path.exists(os.path.join(src_dir, "part-0.parquet")):
        os.makedirs(src_dir, exist_ok=True)
        shutil.copyfile(
            f"{sf_dir}/events.parquet",
            os.path.join(src_dir, "part-0.parquet"),
        )
    name = f"u2i_ssz_{tag}"
    out = stream_sessionize(spark, src_dir, ev.schema, gap_sec=1800)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(once=True)
        .start()
    )
    q.awaitTermination(300)
    return finish_sessions(spark.table(name))


def _wrap(fn):
    def run(spark, sf_dir):
        return fn(spark, load_tables(spark, sf_dir))

    return run


def _queries_base() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Each "<name>_fast" entry is an alias of "<name>": one callable, one
    # implementation, the same oracle SQL (kept so the entry list is stable).
    dup_ngram_ratio = _wrap(trainprep.dup_ngram_ratio)
    quality_filter = _wrap(trainprep.quality_filter)
    exact_substring_dedup = _wrap(dedup.exact_substring_dedup)
    shard_manifest = _wrap(trainprep.shard_manifest)
    return {
        # -- index / BM25 family (SURVEY §2.4-2.5, W4, A2-A6) --------------
        "bm25_topk": q_bm25_topk,
        "bm25_topk_wand": q_bm25_topk_wand,
        "bm25_rare_terms": q_bm25_rare_terms,
        "phrase_topk": q_phrase_topk,
        "bm25_filtered": q_bm25_filtered,
        "bm25_min_should_match": q_bm25_min_should_match,
        "bm25_boosted": q_bm25_boosted,
        "bm25_must_not": q_bm25_must_not,
        "bm25_prefix": q_bm25_prefix,
        "bm25_fuzzy": q_bm25_fuzzy,
        "bm25_page2": q_bm25_page2,
        "bm25_field_boost": q_bm25_field_boost,
        "bm25_search_after": q_bm25_search_after,
        "bm25_wildcard": q_bm25_wildcard,
        "more_like_this": q_more_like_this,
        "bm25_dismax": q_bm25_dismax,
        "bm25_boosting": q_bm25_boosting,
        "highlight": q_highlight,
        "query_string": q_query_string,
        "percolate_query_strings": lambda s, d: Q.percolate_query_strings(
            s, _docs(s, d), PERCOLATE_QS
        ),
        "rescore": q_rescore,
        "esql": q_esql,
        "esql_enrich": q_esql_enrich,
        "esql_dissect": q_esql_dissect,
        "esql_fulltext": q_esql_fulltext,
        "esql_inlinestats": q_esql_inlinestats,
        # rows-only: sketch-based by design; tolerance pytest vs exact
        "doclen_percentiles_approx": _wrap(
            textstats.doclen_percentiles_approx
        ),
        # flat query_string SERVED through the kernel: terms AND + NOT
        "query_string_wand": lambda s, d: Q.query_string_topk_wand(
            s, _index_for(s, d), "merge AND group AND NOT vector", 10
        ),
        "bm25_regexp": lambda s, d: Q.bm25_topk_regexp(
            s, _index_for(s, d), "m.*e|s..w", 10
        ),
        "multi_terms_agg": _wrap(textstats.multi_terms_agg),
        "multi_match": lambda s, d: Q.multi_match_topk(
            s, _docs(s, d), FLAGSHIP_TERMS, 10
        ),
        "pinned": lambda s, d: Q.pinned_topk(
            s, _docs(s, d), FLAGSHIP_TERMS, PINNED_IDS, 10
        ),
        "linear_hybrid": lambda s, d: similarity.linear_hybrid(
            s, load_tables(s, d), FLAGSHIP_TERMS
        ),
        "bm25_gauss_decay": q_bm25_gauss_decay,
        "span_near": q_span_near,
        "span_first": q_span_first,
        "span_not": q_span_not,
        "diversified_topk": q_diversified_topk,
        "match_count": q_match_count,
        "random_score": q_random_score,
        "percolate": q_percolate,
        "percolate_mixed": q_percolate_mixed,
        "rank_eval": q_rank_eval,
        "scroll": q_scroll,
        "analyze": q_analyze,
        "mget": q_mget,
        "field_sort": q_field_sort,
        "term_vectors": q_term_vectors,
        "percentile_ranks": q_percentile_ranks,
        "sampler_terms": q_sampler_terms,
        "stats_bucket": q_stats_bucket,
        "weighted_avg_agg": _wrap(textstats.weighted_avg_agg),
        "mad_agg": _wrap(textstats.mad_agg),
        "completion_suggest": _wrap(textstats.completion_suggest),
        "auto_date_histogram": _wrap(textstats.auto_date_histogram),
        "terms_agg_sharded": _wrap(textstats.terms_agg_sharded),
        "t_test_agg": _wrap(textstats.t_test_agg),
        "boxplot_agg": _wrap(textstats.boxplot_agg),
        "normalize_agg": _wrap(textstats.normalize_agg),
        "bucket_sort_agg": _wrap(textstats.bucket_sort_agg),
        "rate_agg": _wrap(textstats.rate_agg),
        "serial_diff_agg": _wrap(textstats.serial_diff_agg),
        "top_metrics_agg": _wrap(textstats.top_metrics_agg),
        "string_stats_agg": _wrap(textstats.string_stats_agg),
        "bm25_synonyms": q_bm25_synonyms,
        "constant_score": q_constant_score,
        "min_score": q_min_score,
        "multi_index": q_multi_index,
        "terms_set": q_terms_set,
        "phrase_suggest": q_phrase_suggest,
        "bm25_fvf_wand": q_bm25_fvf_wand,
        "bm25_gauss_wand": q_bm25_gauss_wand,
        "bm25_random_wand": q_bm25_random_wand,
        "collapse_topk": q_collapse_topk,
        "explain_score": q_explain_score,
        "term_stats": q_term_stats,
        "corpus_stats": q_corpus_stats,
        "doc_lengths": q_doc_lengths,
        "postings_sample": q_postings_sample,
        "index_count": q_index_count,
        "last_doc_id": q_last_doc_id,
        "counts_by_source": q_counts_by_source,
        "max_dates": _wrap(parity.max_dates),
        "windowed_counts": _wrap(batch_windowed_counts),
        "index_update_lifecycle": q_index_update_lifecycle,  # rows-only
        "delete_by_query_lifecycle": q_delete_by_query_lifecycle,  # rows-only
        # -- parity ops (SURVEY §2.2-2.6) -----------------------------------
        "threeway_join": _wrap(parity.threeway_join),
        "semi_join_recent": _wrap(parity.semi_join_recent),
        "dim_join_2key": _wrap(parity.dim_join_2key),
        "map_lookup_join": _wrap(parity.map_lookup_join),
        "filter_flag_coerce": _wrap(parity.filter_flag_coerce),
        "null_defaulting": _wrap(parity.null_defaulting),
        "sourceless_flag": _wrap(parity.sourceless_flag),
        "range_scan": _wrap(parity.range_scan),
        "group_collect": _wrap(parity.group_collect),
        "count_distinct_keys": _wrap(parity.count_distinct_keys),
        "terms_agg": _wrap(parity.terms_agg),
        "tpch_q1": _wrap(parity.tpch_q1),
        "topn_per_group": _wrap(parity.topn_per_group),
        "last_key_top1": _wrap(parity.last_key_top1),
        "reconcile_counts": _wrap(parity.reconcile_counts),
        "field_caps": _wrap(parity.field_caps),
        # -- ES parent-child join queries -----------------------------------
        "has_child": _wrap(parentchild.has_child_topk),
        "has_parent": _wrap(parentchild.has_parent_topk),
        "children_agg": _wrap(parentchild.children_agg_by_parent_bucket),
        "eql_sequence": _wrap(eventseq.eql_sequence),
        "sessionize": _wrap(eventseq.sessionize),
        "funnel": _wrap(eventseq.funnel),
        # -- F1-F5 layered-key splitter (SURVEY §2.7) -----------------------
        "key_split": _wrap(parity.key_split),
        "key_components": _wrap(parity.key_components),  # rows-only (UDTF)
        # -- dedup / training-data ops --------------------------------------
        "dedup_exact": lambda s, d: dedup.dedup_exact(s, load_tables(s, d)),
        "minhash_lsh_pairs": lambda s, d: dedup.minhash_lsh_pairs(
            s, load_tables(s, d)
        ),
        "simhash_groups": lambda s, d: dedup.simhash_groups(s, load_tables(s, d)),
        "ngram_jaccard_pairs": lambda s, d: dedup.ngram_jaccard_pairs(
            s, load_tables(s, d)
        ),
        "cosine_topk": lambda s, d: similarity.cosine_topk_bruteforce(
            s, load_tables(s, d)
        ),
        "cosine_radius": lambda s, d: similarity.cosine_radius(
            s, load_tables(s, d)
        ),
        "cosine_topk_filtered": lambda s, d: similarity.cosine_topk_filtered(
            s, load_tables(s, d)
        ),
        "rrf_hybrid": lambda s, d: similarity.rrf_hybrid(
            s, load_tables(s, d), FLAGSHIP_TERMS
        ),
        # rows-only: approximate by design; recall + exactness pytest
        # (tests/test_similarity.py::test_ivf_recall_vs_bruteforce)
        "cosine_topk_ivf": lambda s, d: similarity.cosine_topk_ivf(
            s, load_tables(s, d)
        ),
        # rows-only: int8 scalar-quantized two-stage serve; recall +
        # quantization-error pytest (tests/test_similarity.py)
        "cosine_topk_sq": lambda s, d: similarity.cosine_topk_sq(
            s, load_tables(s, d)
        ),
        "cosine_topk_lsh": lambda s, d: similarity.cosine_topk_lsh(
            s, load_tables(s, d)
        ),  # rows-only (approximate by design; pytest recall oracle)
        "embedding_neardup": lambda s, d: embdedup.embedding_neardup_pairs(
            s, load_tables(s, d)
        ),
        # -- text analysis ---------------------------------------------------
        "lang_id": _wrap(textstats.lang_id),
        "doclen_percentiles": _wrap(textstats.doclen_percentiles),
        "significant_terms": _wrap(textstats.significant_terms),
        "term_suggest": _wrap(textstats.term_suggest),
        "quality_score": _wrap(textstats.quality_score),
        "token_counts": _wrap(textstats.token_counts),
        "doc_fingerprint": _wrap(textstats.doc_fingerprint),
        # -- ES aggregation analogs (pipeline / range / cardinality /
        #    extended_stats / histogram / filters / top_hits) ----------------
        "date_histogram_pipeline": _wrap(textstats.date_histogram_pipeline),
        "range_agg": _wrap(textstats.range_agg),
        "extended_stats_agg": _wrap(textstats.extended_stats_agg),
        "histogram_agg": _wrap(textstats.histogram_agg),
        "filters_agg": _wrap(textstats.filters_agg),
        "top_hits_by_lang": _wrap(textstats.top_hits_by_lang),
        "matrix_stats_agg": _wrap(textstats.matrix_stats_agg),
        "adjacency_matrix_agg": _wrap(textstats.adjacency_matrix_agg),
        "rare_terms_agg": _wrap(textstats.rare_terms_agg),
        "composite_agg": _wrap(textstats.composite_agg),
        "bucket_script_selector": _wrap(textstats.bucket_script_selector),
        # -- training-data prep (split / decontaminate / pack) --------------
        "train_eval_split": _wrap(trainprep.train_eval_split),
        "decontaminate": _wrap(trainprep.decontaminate),
        "pack_sequences": _wrap(trainprep.pack_sequences),
        "collapse_repeats": _wrap(trainprep.collapse_repeats),
        "dup_ngram_ratio": dup_ngram_ratio,
        "dup_ngram_ratio_fast": dup_ngram_ratio,
        "pii_scrub": _wrap(trainprep.pii_scrub),
        "ingest_pipeline": _wrap(ingestpipe.ingest_pipeline_simulate),
        "quality_filter": quality_filter,
        "quality_filter_fast": quality_filter,
        "sample_mixture": _wrap(trainprep.sample_mixture),
        "maxsim_topk": lambda s, d: similarity.maxsim_topk(
            s, load_tables(s, d)
        ),
        # rows-only: HLL estimate differs across implementations by design;
        # pytest tolerance oracle (tests/test_analytics.py)
        "cardinality_agg": _wrap(textstats.cardinality_agg),
        # -- multimodal binary plumbing --------------------------------------
        "resize_images": q_resize_images,
        "frame_sample": q_frame_sample,
        "binary_meta": _wrap(multimodal.binary_meta),
        # -- S4/S5 pipe-CSV source/sink ---------------------------------------
        "csv_roundtrip": q_csv_roundtrip,
        "stream_dedup_latest": q_stream_dedup_latest,
        # -- round-5 additions (trail the r5 gate window; r6 candidates) ----
        # Lee-et-al-style exact-substring duplication inventory
        "exact_substring_dedup": exact_substring_dedup,
        # ES cumulative_cardinality pipeline agg, exact via first-seen
        "cumulative_cardinality": _wrap(textstats.cumulative_cardinality),
        # cohort retention curve over the events stream
        "retention_cohort": _wrap(eventseq.retention_cohort),
        # ES 8.x frequent_item_sets (2-item sets, (user, day) baskets)
        "frequent_item_sets": _wrap(eventseq.frequent_item_sets),
        # connected components over the MinHash-LSH near-dup graph
        "neardup_clusters": _wrap(dedup.neardup_clusters),
        # cluster resolution: keep the longest doc per near-dup cluster
        "dedup_keep_best": _wrap(dedup.dedup_keep_best),
        # deterministic global training-order permutation (no global sort)
        "training_order": _wrap(trainprep.training_order),
        # per-doc top-3 tf-idf keywords
        "tfidf_keywords": _wrap(textstats.tfidf_keywords),
        "exact_substring_dedup_fast": exact_substring_dedup,
        # ES percentiles_bucket pipeline agg (daily event counts)
        "percentiles_bucket": _wrap(textstats.percentiles_bucket),
        # ES ingest-node grok processor (named captures -> new fields)
        "grok_pipeline": lambda s, d: ingestpipe.ingest_pipeline_simulate(
            s, load_tables(s, d), ingestpipe.GROK_PIPELINE
        ),
        # ES moving_percentiles pipeline agg (trailing-window p50/p90)
        "moving_percentiles": _wrap(textstats.moving_percentiles),
        # FAISS-style product quantization ANN (ADC + exact rerank);
        # approximate by design -> rows-only + recall pytest
        "cosine_topk_pq": _wrap(similarity.cosine_topk_pq),
        # nested spans: span_near over span_or clauses
        "span_near_or": q_span_near_or,
        # ES intervals query: ordered proximity with a gap budget
        "intervals_ordered": q_intervals_ordered,
        # ES match_phrase_prefix: search-as-you-type phrase
        "match_phrase_prefix": q_match_phrase_prefix,
        # ES match_bool_prefix: non-positional search-as-you-type
        "match_bool_prefix": q_match_bool_prefix,
        # ES rank_feature: additive saturation boost on a numeric field
        "rank_feature": q_rank_feature,
        # ES _terms_enum: prefix autocomplete over the dictionary
        "terms_enum": q_terms_enum,
        # ES|QL LOOKUP JOIN (8.18): broadcast join on a shared key
        "esql_lookup_join": q_esql_lookup_join,
        # ES|QL MV_EXPAND: multivalue explode (SPLIT-made column)
        "esql_mv_expand": q_esql_mv_expand,
        # ES _msearch: one batch job, per-sub-query WAND top-k
        "msearch": q_msearch,
        # ES cumulative_sum pipeline agg: running total per series
        "cumulative_sum_agg": _wrap(textstats.cumulative_sum_agg),
        # ES derivative pipeline agg: gap-aware per-day rate of change
        "derivative_agg": _wrap(textstats.derivative_agg),
        # ES bucket_correlation: per-series Pearson vs overall traffic
        "bucket_correlation": _wrap(textstats.bucket_correlation_agg),
        # ES change_point: deterministic CUSUM-style step-change scan
        "change_point": _wrap(textstats.change_point_agg),
        # streaming sessionize: native session_window, complete mode
        "stream_sessionize": q_stream_sessionize,
        # ES|QL STATS per-agg WHERE (8.16): conditional aggregation
        "esql_stats_where": q_esql_stats_where,
        # ES|QL BUCKET grouping fn in STATS BY (grouping expression)
        "esql_bucket": q_esql_bucket,
        # ES|QL CASE in EVAL: banding via chained WHEN
        "esql_case": q_esql_case,
        # ES|QL GROK command: ingest pattern library, dual render
        "esql_grok": q_esql_grok,
        # ES simple_query_string: lenient +/|/- dialect, shared AST
        "simple_query_string": q_simple_query_string,
        # ES combined_fields: BM25F one-pseudo-field cross-field score
        "combined_fields": q_combined_fields,
        # ES distance_feature: additive proximity boost to an origin
        "distance_feature": q_distance_feature,
        # ES extended_stats_bucket: variance/std/±2σ from exact moments
        "extended_stats_bucket": _wrap(textstats.extended_stats_bucket),
        # ES moving_fn (linearWeightedAvg): integer fold, one divide
        "moving_fn_lwa": _wrap(textstats.moving_fn_agg),
        # ES bucket_count_ks_test: KS D vs overall, integer argmax
        "bucket_count_ks_test": _wrap(textstats.bucket_count_ks_test_agg),
        # trainprep: per-domain cap by deterministic hash permutation
        "domain_cap": _wrap(trainprep.domain_cap),
        # ES span_containing: little inside big span; big terms score
        "span_containing": q_span_containing,
        # ES span_within: the dual — little term scores, big filters
        "span_within": q_span_within,
        # ES terms lookup: filter by another doc's field values
        "terms_lookup": q_terms_lookup,
        # ES runtime_mappings: query-time field in filter + agg
        "runtime_fields": _wrap(textstats.runtime_fields_agg),
        # ES search_template: mustache render -> shared QS path
        "search_template": q_search_template,
        # ES collapse + inner_hits: one window rank, flat rows
        "collapse_inner_hits": q_collapse_inner_hits,
        # ES|QL ROW: literal one-row source through the pipe
        "esql_row": q_esql_row,
        # EQL sequence ... until: the kill-guard variant
        "eql_sequence_until": _wrap(eventseq.eql_sequence_until),
        # ES _mtermvectors: batched term_vectors, one stats pass
        "mterm_vectors": q_mterm_vectors,
        # ES|QL CHANGE_POINT command over a piped series
        "esql_change_point": q_esql_change_point,
        # trainprep: unbiased token-budget corpus slice
        "token_budget_sample": _wrap(trainprep.token_budget_sample),
        # ES _analyze + shingle filter: unigrams + word n-grams
        "analyze_shingles": q_analyze_shingles,
        # ES|QL MEDIAN/PERCENTILE/COUNT_DISTINCT (exact forms)
        "esql_median": q_esql_median,
        # ES|QL multivalue family: MV_COUNT/MV_MIN/MV_MAX
        "esql_mv_stats": q_esql_mv_stats,
        # ES _msearch/template: templated batch, one union plan
        "msearch_template": q_msearch_template,
        # ES|QL string scalar family (one pipeline, dual-rendered)
        "esql_string_fns": q_esql_string_fns,
        # ES|QL TOP/VALUES multivalue aggs (serialized)
        "esql_top_values": q_esql_top_values,
        # ES missing agg over a sparse JSON runtime field
        "missing_agg": _wrap(textstats.missing_agg),
        # ES global agg: query-scoped + whole-index rows from ONE pass
        "global_agg": _wrap(textstats.global_agg),
        # ES scripted_metric: map/combine/reduce as a hash aggregate
        "scripted_metric_agg": _wrap(textstats.scripted_metric_agg),
        # ES significant_text: query-time re-analysis + duplicate-text filter
        "significant_text_agg": _wrap(textstats.significant_text_agg),
        # ES geotile_grid over a runtime geo_point (slippy tile math)
        "geotile_grid_agg": _wrap(textstats.geotile_grid_agg),
        # ES sparse_vector query (ELSER dot product, exact-int weights)
        "sparse_vector_topk": lambda s, d: Q.sparse_vector_topk(
            _docs(s, d), SPARSE_WEIGHTS, 10
        ),
        # stratified per-domain train/eval split (exact integer ratio)
        "stratified_split": _wrap(trainprep.stratified_split),
        # tokenizer-fit OOV-rate diagnostic vs top-V corpus vocab
        "vocab_coverage": _wrap(trainprep.vocab_coverage),
        # ES _transform pivot: entity-centric index in one hash agg
        "transform_pivot": _wrap(eventseq.transform_pivot),
        # ES rollup: daily query served from the hourly rollup index;
        # the oracle computes directly from raw — hash-equal == exact
        "rollup_search": _wrap(eventseq.rollup_search),
        # ES geo_distance rings over the runtime geo_point (exact planar)
        "geo_distance_agg": _wrap(textstats.geo_distance_agg),
        # ES|QL date scalar family (duration-first DATE_TRUNC etc.)
        "esql_date_fns": q_esql_date_fns,
        # ES _analyze + edge_ngram (search-as-you-type analyzer)
        "analyze_edge_ngrams": q_analyze_edge_ngrams,
        # CCNet-style unigram surprisal (deterministic sorted fold)
        "unigram_surprisal": _wrap(textstats.unigram_surprisal),
        # ES|QL IS NULL / IS NOT NULL over LOOKUP JOIN misses
        "esql_null_predicates": q_esql_null_predicates,
        # ES sliced scroll (parallel export: disjoint hash slices)
        "scroll_sliced": lambda s, d: Q.scroll_sliced(_docs(s, d), 4, 10),
        # ES terms agg include.partition (term-space pagination)
        "terms_partition_agg": _wrap(textstats.terms_partition_agg),
        # ES diversified_sampler (de-biased bounded sample → terms agg)
        "diversified_sampler_agg": _wrap(textstats.diversified_sampler_agg),
        # EQL pipes: sequence | unique user_id | head N
        "eql_sequence_pipes": _wrap(eventseq.eql_sequence_pipes),
        # ES random_sampler agg (deterministic p=1/5, exact scaling)
        "random_sampler_agg": _wrap(textstats.random_sampler_agg),
        # T5 span-corruption mask planning (deterministic per-doc)
        "span_corruption": _wrap(trainprep.span_corruption),
        # corpus bigram LM table (exact conditional probabilities)
        "bigram_lm": _wrap(trainprep.bigram_lm),
        # per-doc bigram-LM bits/token (CCNet perplexity stand-in)
        "doc_perplexity": _wrap(trainprep.doc_perplexity),
        # ES categorize_text (deterministic prefix-skeleton reading)
        "categorize_text_agg": _wrap(textstats.categorize_text_agg),
        # ES date_range agg (from-inclusive/to-exclusive edges)
        "date_range_agg": _wrap(textstats.date_range_agg),
        # ES geo_bounds (per-lang bounding box, flattened)
        "geo_bounds_agg": _wrap(textstats.geo_bounds_agg),
        # ES geo_centroid (exact planar mean of the x.5-degree grid)
        "geo_centroid_agg": _wrap(textstats.geo_centroid_agg),
        # ES|QL SAMPLE command (deterministic 1/4 hash bucket)
        "esql_sample": q_esql_sample,
        # corpus-global duplicate-paragraph removal (C4 line dedup)
        "paragraph_dedup": _wrap(trainprep.paragraph_dedup),
        # within-source boilerplate-line stripping (site templates)
        "boilerplate_strip": _wrap(trainprep.boilerplate_strip),
        # CCNet head/middle/tail perplexity terciles per language
        "perplexity_buckets": _wrap(trainprep.perplexity_buckets),
        # ES|QL FORK (multi-branch union over one scan)
        "esql_fork": q_esql_fork,
        # ES|QL STATS BY CATEGORIZE (log-triage grouping fn)
        "esql_categorize": q_esql_categorize,
        # EQL sample (unordered event-set match per key)
        "eql_sample": _wrap(eventseq.eql_sample),
        # ES nested + reverse_nested agg pair (parent-doc counts)
        "nested_reverse_agg": _wrap(textstats.nested_reverse_agg),
        # web-graph in-degree histogram (derived 3-out link graph)
        "link_graph_stats": _wrap(webgraph.link_graph_stats),
        # two power iterations of PageRank, fold-deterministic
        "pagerank_2iter": _wrap(webgraph.pagerank_2iter),
        # two HITS iterations (hubs & authorities, max-normalized)
        "hits_2iter": _wrap(webgraph.hits_2iter),
        # word2vec negative-sampling CDF table (cnt^0.75 via sqrt-sqrt)
        "negative_sampling": _wrap(trainprep.negative_sampling_table),
        # cross-dump crawl diff (added/gone/changed/unchanged per source)
        "crawl_snapshot_diff": _wrap(trainprep.crawl_snapshot_diff),
        # BPE tokenizer-training step 1: weighted char-pair counts
        "bpe_first_merge": _wrap(trainprep.bpe_first_merge),
        # OLAP CUBE grouping sets in one scan (Expand + one agg)
        "cube_counts": _wrap(parity.cube_counts),
        # as-of join (window formulation, no range explosion)
        "asof_join": q_asof_join,
        # RAG sliding-window chunk table (32-token / 24-stride)
        "rag_chunks": _wrap(trainprep.rag_chunks),
        # Gopher within-doc duplicate-line character ratio
        "dup_line_chars": _wrap(trainprep.dup_line_chars_ratio),
        # Zipf's-law slope fit over the top-100 vocabulary
        "zipf_fit": _wrap(textstats.zipf_fit),
        # Heaps'-law vocabulary-growth checkpoints (exact)
        "heaps_law": _wrap(textstats.heaps_law),
        # skip-gram (±2 left-context) PMI collocation table
        "skipgram_pmi": _wrap(textstats.skipgram_pmi),
        # ES geo_line agg (per-lang path, size-capped, sorted)
        "geo_line_agg": _wrap(textstats.geo_line_agg),
        # anchor-text aggregation over the derived link graph
        "anchor_text_agg": _wrap(webgraph.anchor_text_agg),
        # URL canonicalization + crawl-dedup inventory
        "url_normalize_dedup": _wrap(trainprep.url_normalize_dedup),
        # ftfy-style cp1252-mojibake repair scan (map-only, no regex)
        "fix_mojibake": _wrap(trainprep.fix_mojibake),
        # UT1 domain-blocklist filter (suffix match, broadcast rules)
        "domain_blocklist": _wrap(trainprep.domain_blocklist_filter),
        # ES _reindex (postings-space copy, filter + reshard; rows-only)
        "reindex_lifecycle": q_reindex_lifecycle,
        # robots.txt exclusion verdicts (REP longest-match + allow tie)
        "robots_filter": _wrap(trainprep.robots_filter),
        # Flesch reading-ease featurizer + difficulty bands
        "readability": _wrap(textstats.readability),
        # dup-cluster resolution: CC over LSH bucket-adjacent pairs
        "connected_components": _wrap(dedup.connected_components),
        # _rank_eval dcg metric: nDCG@k with graded judgments
        "ndcg_eval": q_ndcg_eval,
        # casefold + diacritic-fold + whitespace-collapse scan
        "normalize_text": _wrap(trainprep.normalize_text),
        # MOSS winnowing fingerprints (window-min k-gram selection)
        "winnowing": _wrap(dedup.winnowing_fingerprints),
        # LTR feature/label export for the BM25 top-k
        "ltr_features": q_ltr_features,
        # WebDataset-style byte-budget output shard manifest
        "shard_manifest": shard_manifest,
        # content-defined chunking (LBFS rolling-boundary dedup unit)
        "cdc_chunks": _wrap(dedup.cdc_chunks),
        # Manku'07 hamming-radius simhash pairs (band pigeonhole)
        "simhash_hamming": _wrap(dedup.simhash_hamming_pairs),
        "shard_manifest_fast": shard_manifest,
        # PRF query expansion (Rocchio/RM-style feedback terms)
        "prf_expansion": q_prf_expansion,
        # >=2-of-3 near-dup method vote with provenance flags
        "dedup_consensus": _wrap(dedup.dedup_consensus_pairs),
        # Rocchio dense feedback: BM25 head -> centroid -> cosine top-k
        "rocchio_knn": q_rocchio_knn,
        # TextRank keywords (PageRank over the co-occurrence graph)
        "textrank": _wrap(textstats.textrank_keywords),
        # per-node triangle counts + local clustering coefficient
        "triangle_count": _wrap(webgraph.triangle_count),
        # delta+varint postings size planning (Lucene-style)
        "postings_size": _wrap(textstats.postings_size_estimate),
        # first-order Markov next-event transition table
        "next_event_markov": _wrap(eventseq.next_event_markov),
        # Dirichlet query-likelihood ranking (Zhai-Lafferty LM scorer)
        "query_likelihood": _wrap(textstats.query_likelihood_topk),
        # per-term top-m champion lists (early-termination sidecar)
        "champion_lists": _wrap(textstats.champion_lists),
        # Silvestri doc-id reassignment: varbyte bytes before/after
        "docid_remap_bytes": _wrap(textstats.docid_remap_gap_bytes),
        # ES avg/min/max/sum_bucket sibling pipeline aggs in one pass
        "sibling_buckets": _wrap(textstats.sibling_bucket_aggs),
        # Bloom-filter membership prefilter for incremental dedup
        "bloom_prefilter": _wrap(dedup.bloom_prefilter),
        # BM25+ lower-bounded tf normalization (Lv-Zhai CIKM'11)
        "bm25_plus": _wrap(textstats.bm25_plus_topk),
        # postings-intersection size vs independence estimate (planner)
        "intersect_estimate": _wrap(textstats.intersect_estimate),
        # Carmel'01 static index pruning size/fidelity audit
        "static_prune": _wrap(textstats.static_prune_audit),
        # highlighter best-fragment selection (map-side HOF search)
        "best_passage": _wrap(textstats.best_passage),
        # Kendall tau + RBO agreement between BM25 and QL rankers
        "rank_correlation": _wrap(textstats.rank_correlation),
        # MMR diversified rerank of dense top-k (Carbonell-Goldstein)
        "mmr_rerank": _wrap(similarity.mmr_rerank),
        # per-doc character-entropy quality signal (gibberish flag)
        "char_entropy": _wrap(textstats.char_entropy),
        # per-source KL(P_src || P_corpus) domain-drift monitor
        "source_kl": _wrap(textstats.source_kl),
        # Broder containment (asymmetric near-dup: quote inclusion)
        "containment_pairs": _wrap(dedup.containment_pairs),
        # pre-retrieval query-performance prediction (SCQ/ICTF/scope)
        "qpp_preretrieval": _wrap(textstats.qpp_preretrieval),
        # Lucene-style front-coded term dictionary size audit
        "front_coding": _wrap(textstats.front_coding_audit),
        # Fox-Shaw CombSUM/CombMNZ fusion of BM25 + QL
        "combsum_hybrid": _wrap(textstats.combsum_hybrid),
        # 8-bit impact-quantization ranking fidelity (Anh-Moffat)
        "quantize_fidelity": _wrap(textstats.quantize_fidelity),
        # ES dfs_query_then_fetch vs local-idf drift audit
        "shard_idf_drift": _wrap(textstats.shard_idf_drift),
        # Dunning G^2 collocation extraction
        "collocations_llr": _wrap(textstats.collocations_llr),
        # ES similarity modules beyond BM25/Dirichlet: LM Jelinek-
        # Mercer, chi-squared DFI, and multi-field BM25F
        "lm_jelinek_mercer": _wrap(textstats.lm_jelinek_mercer_topk),
        "dfi_topk": _wrap(textstats.dfi_topk),
        "bm25f_topk": _wrap(textstats.bm25f_topk),
        # KMV distinct sketch with per-source -> merged shard combine
        "kmv_distinct": _wrap(textstats.kmv_distinct),
        # Lucene LogByteSize tiered-merge planning pass
        "merge_policy_plan": _wrap(textstats.merge_policy_plan),
        # ES `parent` aggregation (children_agg's mirror)
        "parent_agg": _wrap(parentchild.parent_agg_by_child_bucket),
        # MaxScore serving kernel (Lucene's other dynamic-pruning
        # strategy) through the compressed-segment path — same oracle
        # as the exact/WAND paths: rank identity is the whole point
        "bm25_maxscore": lambda spark, sf_dir: Q.bm25_topk_maxscore(
            spark, _index_for(spark, sf_dir), FLAGSHIP_TERMS, FLAGSHIP_K
        ),
        # TREC Average Precision @ k over a multi-query set
        "avg_precision_eval": lambda spark, sf_dir: Q.avg_precision_eval(
            _docs(spark, sf_dir), AP_QUERIES, AP_K
        ),
        # ReDDE federated resource selection over the doc shards
        "redde_selection": lambda spark, sf_dir: (
            Q.redde_resource_selection(_docs(spark, sf_dir), FLAGSHIP_TERMS)
        ),
        # Elias-Fano vs varbyte postings codec audit (closed-form EF)
        "elias_fano_audit": _wrap(textstats.elias_fano_audit),
        # Soft-404 detection over planted error/truncated pages
        "soft404_filter": _wrap(trainprep.soft404_filter),
        # Lexical URL feature extraction per (source, tld)
        "url_features": _wrap(trainprep.url_features),
        # DFR PL2 ranking (Terrier default / Lucene DFRSimilarity)
        "dfr_pl2": _wrap(textstats.dfr_pl2_topk),
        # CORI federated resource selection (stats-only broker)
        "cori_selection": lambda spark, sf_dir: (
            Q.cori_selection(_docs(spark, sf_dir), FLAGSHIP_TERMS)
        ),
        # Rank-biased precision @ k (p = 1/2, exact dyadic accumulation)
        "rbp_eval": lambda spark, sf_dir: (
            Q.rbp_eval(_docs(spark, sf_dir), AP_QUERIES, AP_K)
        ),
        # C4 cleaning rules over planted line structure (Raffel'20)
        "c4_filter": _wrap(trainprep.c4_filter),
        # DSIR hashed-ngram importance weights (Xie'23)
        "dsir_weights": _wrap(trainprep.dsir_weights),
        # Fill-in-the-middle split audit (Bavarian'22)
        "fim_transform": _wrap(trainprep.fim_transform),
        # Lucene multi-level skip-list capacity audit
        "skiplist_audit": _wrap(textstats.skiplist_audit),
        # ES variable_width_histogram (equal-depth deterministic variant)
        "variable_width_histogram": _wrap(
            textstats.variable_width_histogram_agg
        ),
        # ES intervals all_of ordered:false max_gaps (corpus path)
        "intervals_unordered": lambda spark, sf_dir: (
            Q.intervals_unordered_match(
                _docs(spark, sf_dir), "merge", "group", 4
            )
        ),
        # Borda-count rank fusion (pure-rank integer ballots)
        "borda_fusion": _wrap(textstats.borda_fusion),
        # Expected reciprocal rank @ k (cascade model, graded judgments)
        "err_eval": lambda spark, sf_dir: (
            Q.err_eval(_docs(spark, sf_dir), AP_QUERIES, AP_K)
        ),
        # SALSA 2-iteration link analysis (degree-normalized HITS)
        "salsa_2iter": _wrap(webgraph.salsa_2iter),
        # Lucene index-sorting early-termination benefit audit
        "index_sort_audit": _wrap(textstats.index_sort_audit),
        # SymSpell symmetric-delete spell correction (join-indexed)
        "symspell_suggest": _wrap(textstats.symspell_suggest),
        # ES custom _routing shard-skew audit (id vs tenant routing)
        "routing_skew_audit": _wrap(textstats.routing_skew_audit),
        # TREC judgment-pool construction audit (two-run overlap)
        "trec_pool": lambda spark, sf_dir: (
            Q.trec_pool(_docs(spark, sf_dir), AP_QUERIES)
        ),
        # Block-max upper-bound tightness (BMW pruning power)
        "blockmax_tightness": _wrap(textstats.blockmax_tightness),
        # Trending event types across a fixed window boundary
        "trending_events": _wrap(textstats.trending_events),
        # Polite-crawl makespan planning over derived hosts
        "crawl_politeness_plan": _wrap(trainprep.crawl_politeness_plan),
        # Temperature (alpha) mixture allocation, largest remainder
        "temperature_mixture": _wrap(trainprep.temperature_mixture),
        # Church-Gale term burstiness (cf/df) dictionary audit
        "term_burstiness": _wrap(textstats.term_burstiness),
        # Lucene SmallFloat 1-byte norms ranking-drift audit
        "norms_quant_audit": _wrap(textstats.norms_quant_audit),
        # Stoplist go/no-go: rank drift vs postings-scan saving
        "stopword_prune_audit": _wrap(textstats.stopword_prune_audit),
        # ES ILM hot/warm/cold phase mass plan over the event stream
        "ilm_phase_plan": _wrap(textstats.ilm_phase_plan),
        # Proximity-enhanced BM25 (pair min-distance bonus)
        "bm25_prox": _wrap(textstats.bm25_prox_topk),
        # ES ip_range aggregation over derived client IPs
        "ip_range_agg": _wrap(textstats.ip_range_agg),
        # ES TSDB counter rate with reset handling
        "counter_rate": _wrap(textstats.counter_rate),
        # Sequential Dependence Model ranking (Metzler-Croft SDM)
        "sdm_topk": _wrap(textstats.sdm_topk),
        # K-gram index wildcard expansion (IIR 3.2)
        "kgram_wildcard": _wrap(textstats.kgram_wildcard),
        # Language-ID confusion matrix vs gold labels
        "langid_confusion": _wrap(textstats.langid_confusion),
        # ES context suggester (per-lang completion)
        "completion_context": _wrap(textstats.completion_context),
        # SERP result clustering (star-graph Scatter/Gather)
        "serp_clusters": _wrap(textstats.serp_clusters),
        # Singhal pivoted length-normalization audit
        "pivoted_length_audit": lambda spark, sf_dir: (
            Q.pivoted_length_audit(_docs(spark, sf_dir), AP_QUERIES)
        ),
        # Post-retrieval QPP (WIG + NQC score-shape predictors)
        "qpp_postretrieval": lambda spark, sf_dir: (
            Q.qpp_postretrieval(_docs(spark, sf_dir), AP_QUERIES)
        ),
        # Two-phase rescore-window recall curve
        "rerank_depth_audit": _wrap(textstats.rerank_depth_audit),
        # Hourly burst intervals (thresholded Kleinberg, islands merge)
        "event_bursts": _wrap(textstats.event_bursts),
        # Embedding-table QA (norms/dims/zeros before ANN builds)
        "embedding_qa": _wrap(similarity.embedding_qa),
        # BM25 hard-negative mining (DPR training recipe)
        "hard_negatives": lambda spark, sf_dir: (
            Q.hard_negatives(_docs(spark, sf_dir), AP_QUERIES)
        ),
        # Freshness-driven recrawl intervals (Cho & Garcia-Molina)
        "recrawl_schedule": _wrap(trainprep.recrawl_schedule),
        # BM25 b-parameter grid sweep (mean P@10 per grid point)
        "bm25_param_sweep": _wrap(textstats.bm25_param_sweep),
        # Good-Turing missing-mass / hapax audit per source
        "good_turing_mass": _wrap(textstats.good_turing_mass),
        # Federated z-score result merging with provenance
        "zscore_merge": _wrap(textstats.zscore_merge_audit),
        # PFOR postings codec audit (completes varbyte/EF/PFOR)
        "pfor_audit": _wrap(textstats.pfor_audit),
        # Source-vocabulary Jaccard similarity (mixture design input)
        "source_vocab_overlap": _wrap(textstats.source_vocab_overlap),
        # Cohen's kappa between strict and lenient judges
        "judge_agreement_kappa": _wrap(textstats.judge_agreement_kappa),
        # Negative-IDF audit (why Lucene smooths Robertson idf)
        "idf_negative_audit": _wrap(textstats.idf_negative_audit),
        # Count-Min sketch fidelity (completes the sketch shelf)
        "countmin_audit": _wrap(textstats.countmin_audit),
        # Nextword-index plan for common-word phrase serving
        "nextword_index_plan": _wrap(textstats.nextword_index_plan),
        # Gen-over-gen rank drift with refreshed statistics
        "generation_rank_drift": _wrap(textstats.generation_rank_drift),
        # ES post_filter facet semantics (counts unfiltered, hits not)
        "post_filter_facets": _wrap(textstats.post_filter_facets),
        # Sampled term-statistics calibration (1-in-3 systematic)
        "sampled_df_accuracy": _wrap(textstats.sampled_df_accuracy),
        # Moffat-Zobel TAAT accumulator-limit recall curve
        "taat_accumulator_audit": _wrap(textstats.taat_accumulator_audit),
        # JASS anytime impact-ordered budget recall curve
        "jass_anytime_audit": _wrap(textstats.jass_anytime_audit),
        # Min-gap histogram for a term pair (proximity calibration)
        "proximity_histogram": _wrap(textstats.proximity_histogram),
        # Long-query reduction: NQC predictor vs actual P@k per variant
        "query_reduction_audit": _wrap(textstats.query_reduction_audit),
        # Static link-authority prior mixed into BM25
        "prior_mix_audit": _wrap(textstats.prior_mix_audit),
        # Near-dup Jaccard threshold sweep (dedup tau tuning)
        "dedup_threshold_sweep": _wrap(textstats.dedup_threshold_sweep),
        # Doc- vs term-partitioned index cost (Moffat/Webber/Zobel)
        "partitioning_cost_audit": _wrap(
            textstats.partitioning_cost_audit
        ),
        # Per-list argmin codec assignment over varbyte/EF/PFOR
        "hybrid_codec_assignment": _wrap(
            textstats.hybrid_codec_assignment
        ),
        # BMW per-block metadata storage overhead
        "blockmax_metadata_overhead": _wrap(
            textstats.blockmax_metadata_overhead
        ),
        # kNN label purity (embedding-space semantic QA)
        "knn_label_purity": _wrap(similarity.knn_label_purity),
        # Term position bias (lead-bias audit for positional boosts)
        "term_position_bias": _wrap(textstats.term_position_bias),
        # Heaps-law prefix fit extrapolated to the full corpus
        "heaps_extrapolation": _wrap(textstats.heaps_extrapolation),
    }



# ---------------------------------------------------------------- gate order
# The driver's correctness gate hash-checks the FIRST 50 queries() entries
# per round. Round-5 rotation (VERDICT r4 task 3): positions 0-49 = the two
# r4 repairs (esql, term_vectors) + the 6 fixed latent type-hazard entries +
# 42 hash-checkable entries that have never had a driver CORRECTNESS row in
# rounds 1-4. Positions 50-64 = the remaining never-checked entries (pytest-
# twinned kernel/identity variants and the 5 rows-only-by-design ops), queued
# for the round-6 window. Positions 65+ = previously driver-green entries,
# oldest green round first, so future rotations keep every entry's driver row
# at most ~2 rounds old (SURVEY "gate-window rotation" note).
_GATE_ORDER_R5 = [
    "esql",
    "term_vectors",
    "stats_bucket",
    "bucket_script_selector",
    "train_eval_split",
    "pack_sequences",
    "quality_filter",
    "quality_filter_fast",
    "weighted_avg_agg",
    "mad_agg",
    "auto_date_histogram",
    "terms_agg_sharded",
    "t_test_agg",
    "boxplot_agg",
    "normalize_agg",
    "bucket_sort_agg",
    "rate_agg",
    "serial_diff_agg",
    "top_metrics_agg",
    "string_stats_agg",
    "bm25_synonyms",
    "constant_score",
    "min_score",
    "multi_index",
    "terms_set",
    "field_caps",
    "has_child",
    "has_parent",
    "children_agg",
    "eql_sequence",
    "sessionize",
    "funnel",
    "cosine_radius",
    "cosine_topk_filtered",
    "rrf_hybrid",
    "date_histogram_pipeline",
    "range_agg",
    "extended_stats_agg",
    "histogram_agg",
    "filters_agg",
    "top_hits_by_lang",
    "matrix_stats_agg",
    "adjacency_matrix_agg",
    "rare_terms_agg",
    "composite_agg",
    "decontaminate",
    "collapse_repeats",
    "dup_ngram_ratio",
    "pii_scrub",
    "ingest_pipeline",
    "completion_suggest",
    "phrase_suggest",
    "bm25_fvf_wand",
    "bm25_gauss_wand",
    "bm25_random_wand",
    "collapse_topk",
    "explain_score",
    "delete_by_query_lifecycle",
    "cosine_topk_sq",
    "dup_ngram_ratio_fast",
    "sample_mixture",
    "maxsim_topk",
    "cardinality_agg",
    "resize_images",
    "frame_sample",
    "term_stats",
    "corpus_stats",
    "doc_lengths",
    "postings_sample",
    "index_count",
    "last_doc_id",
    "counts_by_source",
    "max_dates",
    "windowed_counts",
    "index_update_lifecycle",
    "threeway_join",
    "semi_join_recent",
    "dim_join_2key",
    "map_lookup_join",
    "filter_flag_coerce",
    "null_defaulting",
    "sourceless_flag",
    "range_scan",
    "group_collect",
    "count_distinct_keys",
    "terms_agg",
    "tpch_q1",
    "topn_per_group",
    "last_key_top1",
    "reconcile_counts",
    "key_split",
    "key_components",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash_groups",
    "ngram_jaccard_pairs",
    "cosine_topk",
    "cosine_topk_ivf",
    "cosine_topk_lsh",
    "embedding_neardup",
    "lang_id",
    "doclen_percentiles",
    "significant_terms",
    "term_suggest",
    "quality_score",
    "token_counts",
    "doc_fingerprint",
    "binary_meta",
    "csv_roundtrip",
    "stream_dedup_latest",
    "bm25_topk",
    "bm25_topk_wand",
    "bm25_rare_terms",
    "phrase_topk",
    "bm25_filtered",
    "bm25_min_should_match",
    "bm25_boosted",
    "bm25_must_not",
    "bm25_prefix",
    "bm25_fuzzy",
    "bm25_page2",
    "bm25_field_boost",
    "bm25_search_after",
    "bm25_wildcard",
    "more_like_this",
    "bm25_dismax",
    "bm25_boosting",
    "highlight",
    "query_string",
    "percolate_query_strings",
    "rescore",
    "esql_enrich",
    "esql_dissect",
    "esql_fulltext",
    "esql_inlinestats",
    "doclen_percentiles_approx",
    "query_string_wand",
    "bm25_regexp",
    "multi_terms_agg",
    "multi_match",
    "pinned",
    "linear_hybrid",
    "bm25_gauss_decay",
    "span_near",
    "span_first",
    "span_not",
    "diversified_topk",
    "match_count",
    "random_score",
    "percolate",
    "percolate_mixed",
    "rank_eval",
    "scroll",
    "analyze",
    "mget",
    "field_sort",
    "percentile_ranks",
    "sampler_terms",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _queries_base()
    ordered = {k: base[k] for k in _GATE_ORDER_R5 if k in base}
    for k, v in base.items():  # safety net: unlisted entries trail
        ordered.setdefault(k, v)
    return ordered


def oracle_sql() -> dict[str, str]:
    return {
        "bm25_topk": oracles.bm25_sql(FLAGSHIP_TERMS, FLAGSHIP_K),
        "bm25_topk_wand": oracles.bm25_sql(FLAGSHIP_TERMS, FLAGSHIP_K),
        "bm25_rare_terms": oracles.bm25_sql(RARE_TERMS, 10),
        "phrase_topk": oracles.phrase_sql(PHRASE, PHRASE_K),
        "bm25_filtered": oracles.bm25_filtered_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, "lang = 'en'"
        ),
        "bm25_min_should_match": oracles.bm25_msm_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, 2
        ),
        "bm25_boosted": oracles.bm25_boosted_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, BOOSTS
        ),
        "bm25_must_not": oracles.bm25_must_not_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, MUST_NOT
        ),
        "bm25_prefix": oracles.bm25_prefix_sql(PREFIX, 10, PREFIX_EXP),
        "bm25_fuzzy": oracles.bm25_fuzzy_sql(FUZZY_TERM, 10, FUZZY_EDITS, 50),
        "bm25_page2": oracles.bm25_paged_sql(
            FLAGSHIP_TERMS, PAGE_K, PAGE_OFFSET
        ),
        "bm25_field_boost": oracles.bm25_field_boost_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, FVF_FACTOR
        ),
        "bm25_fvf_wand": oracles.bm25_fvf_wand_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, FVF_WAND_FACTOR
        ),
        "bm25_gauss_wand": oracles.bm25_gauss_wand_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, GAUSS_WAND_ORIGIN, GAUSS_DENOM
        ),
        # identical formula to the corpus-path random_score by design
        "bm25_random_wand": oracles.random_score_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, RS_SEED, Q._RS_MULT, Q._RS_MOD
        ),
        "bm25_search_after": oracles.bm25_search_after_sql(
            FLAGSHIP_TERMS, SA_K, CURSOR_RANK
        ),
        "bm25_wildcard": oracles.bm25_wildcard_sql(
            WILDCARD, 10, WILDCARD_EXP
        ),
        "more_like_this": oracles.more_like_this_sql(
            MLT_DOC, MLT_K, MLT_TERMS
        ),
        "bm25_dismax": oracles.bm25_dismax_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, DISMAX_TIE
        ),
        "bm25_boosting": oracles.bm25_boosting_sql(
            FLAGSHIP_TERMS, BOOSTING_NEG, FLAGSHIP_K, BOOSTING_FACTOR
        ),
        "highlight": oracles.highlight_sql(FLAGSHIP_TERMS, FLAGSHIP_K),
        "query_string": oracles.query_string_sql(QS_QUERY, 10),
        "percolate_query_strings": oracles.percolate_query_strings_sql(
            PERCOLATE_QS
        ),
        "esql": esql_mod.compile_sql(esql_mod.parse_esql(ESQL_QUERY)),
        "query_string_wand": oracles.query_string_wand_sql(
            ["merge", "group"], 10, 2, ["vector"]
        ),
        "esql_enrich": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_ENRICH_QUERY)
        ),
        "esql_dissect": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_DISSECT_QUERY)
        ),
        "esql_fulltext": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_FULLTEXT_QUERY)
        ),
        "esql_inlinestats": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_INLINESTATS_QUERY)
        ),
        "bm25_regexp": oracles.bm25_regexp_sql("m.*e|s..w", 10, 50),
        "multi_terms_agg": oracles.multi_terms_sql(10),
        "multi_match": oracles.multi_match_sql(FLAGSHIP_TERMS, 10),
        "pinned": oracles.pinned_sql(FLAGSHIP_TERMS, PINNED_IDS, 10),
        "linear_hybrid": oracles.linear_hybrid_sql(FLAGSHIP_TERMS),
        "rescore": oracles.rescore_sql(
            FLAGSHIP_TERMS, PHRASE, window=50, k=10
        ),
        "bm25_gauss_decay": oracles.bm25_gauss_decay_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, GAUSS_ORIGIN, GAUSS_DENOM
        ),
        "span_near": oracles.span_near_sql(
            SPAN_TERMS, 10, SPAN_SLOP
        ),
        "span_first": oracles.span_first_sql(
            SPAN_FIRST_TERM, 10, SPAN_FIRST_END
        ),
        "span_not": oracles.span_not_sql(
            SPAN_NOT[0], SPAN_NOT[1], 10, SPAN_NOT[2]
        ),
        "diversified_topk": oracles.diversified_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, DIVERSE_FIELD, DIVERSE_PER_KEY
        ),
        "match_count": oracles.match_count_sql(FLAGSHIP_TERMS),
        "random_score": oracles.random_score_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, RS_SEED, Q._RS_MULT, Q._RS_MOD
        ),
        "percolate": oracles.percolate_sql(PERCOLATE_QUERIES),
        "percolate_mixed": oracles.percolate_sql(
            PERCOLATE_QUERIES, phrase_queries=PERCOLATE_PHRASES
        ),
        "scroll": oracles.scroll_sql(PHRASE, SCROLL_PAGE, SCROLL_AFTER),
        "analyze": oracles.analyze_sql(ANALYZE_TEXT),
        "mget": oracles.mget_sql(MGET_IDS),
        "field_sort": oracles.sort_topk_sql(
            PHRASE, PHRASE_K, SORT_FIELD, after=SORT_AFTER
        ),
        "term_vectors": oracles.term_vectors_sql(TV_DOC),
        "percentile_ranks": oracles.percentile_ranks_sql(PR_VALUES),
        "sampler_terms": oracles.sampler_terms_sql(
            PHRASE, SAMPLER_SIZE, "source"
        ),
        "stats_bucket": oracles.stats_bucket_sql(),
        "weighted_avg_agg": oracles.WEIGHTED_AVG,
        "mad_agg": oracles.MAD_AGG,
        "completion_suggest": oracles.completion_suggest_sql("s", 10),
        "auto_date_histogram": oracles.auto_date_histogram_sql(20),
        "terms_agg_sharded": oracles.terms_agg_sharded_sql(5, 8, 4),
        "t_test_agg": oracles.t_test_sql(),
        "boxplot_agg": oracles.BOXPLOT,
        "normalize_agg": oracles.NORMALIZE_AGG,
        "bucket_sort_agg": oracles.bucket_sort_sql(2, 5),
        "rate_agg": oracles.RATE_AGG,
        "serial_diff_agg": oracles.serial_diff_sql(1),
        "top_metrics_agg": oracles.TOP_METRICS,
        "string_stats_agg": oracles.STRING_STATS,
        "bm25_synonyms": oracles.synonyms_sql(SYN_GROUPS, FLAGSHIP_K),
        "constant_score": oracles.constant_score_sql(
            PHRASE, FLAGSHIP_K, CS_BOOST
        ),
        "min_score": oracles.min_score_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, MIN_SCORE
        ),
        "multi_index": oracles.multi_index_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K,
            [("doc_id % 2 = 0", MIDX_BOOSTS[0]),
             ("doc_id % 2 = 1", MIDX_BOOSTS[1])],
        ),
        "terms_set": oracles.terms_set_sql(
            TERMS_SET_TERMS, FLAGSHIP_K, TERMS_SET_REQUIRED
        ),
        "phrase_suggest": oracles.phrase_suggest_sql(
            SUGGEST_PHRASE, SUGGEST_DIST, SUGGEST_SIZE
        ),
        "rank_eval": oracles.rank_eval_sql(
            PHRASE, PHRASE_K, RANK_EVAL_MARKER
        ),
        "collapse_topk": oracles.collapse_topk_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K
        ),
        "explain_score": oracles.explain_score_sql(
            FLAGSHIP_TERMS, EXPLAIN_DOC
        ),
        "term_stats": oracles.TERM_STATS,
        "corpus_stats": oracles.CORPUS_STATS,
        "doc_lengths": oracles.DOC_LENGTHS,
        "postings_sample": oracles.POSTINGS_SAMPLE,
        "index_count": oracles.INDEX_COUNT,
        "last_doc_id": oracles.LAST_DOC_ID,
        "counts_by_source": oracles.COUNTS_BY_SOURCE,
        "max_dates": oracles.MAX_DATES,
        "windowed_counts": oracles.WINDOWED_COUNTS,
        "threeway_join": oracles.THREEWAY_JOIN,
        "semi_join_recent": oracles.SEMI_JOIN_RECENT,
        "dim_join_2key": oracles.DIM_JOIN_2KEY,
        "map_lookup_join": oracles.MAP_LOOKUP_JOIN,
        "filter_flag_coerce": oracles.FILTER_FLAG_COERCE,
        "null_defaulting": oracles.NULL_DEFAULTING,
        "sourceless_flag": oracles.SOURCELESS_FLAG,
        "range_scan": oracles.RANGE_SCAN,
        "group_collect": oracles.GROUP_COLLECT,
        "count_distinct_keys": oracles.COUNT_DISTINCT_KEYS,
        "terms_agg": oracles.TERMS_AGG,
        "tpch_q1": oracles.TPCH_Q1,
        "topn_per_group": oracles.TOPN_PER_GROUP,
        "last_key_top1": oracles.LAST_KEY_TOP1,
        "reconcile_counts": oracles.RECONCILE_COUNTS,
        "field_caps": oracles.field_caps_sql(),
        "has_child": oracles.HAS_CHILD,
        "has_parent": oracles.HAS_PARENT,
        "children_agg": oracles.CHILDREN_AGG,
        "eql_sequence": oracles.eql_sequence_sql(),
        "sessionize": oracles.sessionize_sql(1800),
        "funnel": oracles.funnel_sql(),
        "key_split": oracles.KEY_SPLIT,
        # key_components: rows-only (Arrow UDTF fan-out, not SQL-expressible)
        "dedup_exact": oracles.DEDUP_EXACT,
        "minhash_lsh_pairs": oracles.minhash_lsh_sql(),
        "simhash_groups": oracles.simhash_groups_sql(),
        "ngram_jaccard_pairs": oracles.ngram_jaccard_sql(),
        "cosine_topk": oracles.COSINE_TOPK,
        "cosine_radius": oracles.cosine_radius_sql(),
        "cosine_topk_filtered": oracles.cosine_topk_filtered_sql(),
        "rrf_hybrid": oracles.rrf_hybrid_sql(FLAGSHIP_TERMS),
        "embedding_neardup": oracles.EMBEDDING_NEARDUP,
        # cosine_topk_lsh: rows-only (approximate recall by design)
        "lang_id": oracles.LANG_ID,
        "doclen_percentiles": oracles.DOCLEN_PERCENTILES,
        "significant_terms": oracles.SIGNIFICANT_TERMS,
        "term_suggest": oracles.TERM_SUGGEST,
        "quality_score": oracles.QUALITY_SCORE,
        "token_counts": oracles.TOKEN_COUNTS,
        "doc_fingerprint": oracles.DOC_FINGERPRINT,
        "date_histogram_pipeline": oracles.DATE_HISTOGRAM_PIPELINE,
        "range_agg": oracles.range_agg_sql(),
        "extended_stats_agg": oracles.EXTENDED_STATS,
        "histogram_agg": oracles.histogram_agg_sql(),
        "filters_agg": oracles.FILTERS_AGG,
        "top_hits_by_lang": oracles.top_hits_by_lang_sql(),
        "matrix_stats_agg": oracles.MATRIX_STATS,
        "adjacency_matrix_agg": oracles.ADJACENCY_MATRIX,
        "rare_terms_agg": oracles.rare_terms_sql(
            textstats.RARE_MAX_DOC_COUNT, textstats.RARE_OUT_CAP
        ),
        "composite_agg": oracles.composite_agg_sql(
            textstats.COMPOSITE_AFTER, textstats.COMPOSITE_PAGE_SIZE
        ),
        "bucket_script_selector": oracles.bucket_script_selector_sql(
            textstats.MIN_BUCKET_DOCS
        ),
        "train_eval_split": oracles.train_eval_split_sql(
            trainprep.SPLIT_TRAIN_PCT, trainprep.SPLIT_VALID_PCT
        ),
        "decontaminate": oracles.decontaminate_sql(
            trainprep.BENCHMARK_SOURCE, trainprep.CONTAM_MIN_SHARED
        ),
        "pack_sequences": oracles.pack_sequences_sql(trainprep.PACK_BUDGET),
        "collapse_repeats": oracles.COLLAPSE_REPEATS,
        "dup_ngram_ratio": oracles.DUP_NGRAM_RATIO,
        "dup_ngram_ratio_fast": oracles.DUP_NGRAM_RATIO,
        "pii_scrub": oracles.pii_scrub_sql(
            trainprep.PII_EMAIL, trainprep.PII_PHONE, trainprep.PII_IP
        ),
        "ingest_pipeline": oracles.ingest_pipeline_sql(
            ingestpipe.DOC_PIPELINE
        ),
        "quality_filter": oracles.QUALITY_FILTER,
        "quality_filter_fast": oracles.QUALITY_FILTER,
        "sample_mixture": oracles.sample_mixture_sql(
            trainprep.MIX_QUOTAS, trainprep.MIX_DEFAULT_QUOTA
        ),
        "maxsim_topk": oracles.maxsim_sql(),
        # cardinality_agg: rows-only (HLL estimate, pytest tolerance oracle)
        "binary_meta": oracles.BINARY_META,
        "csv_roundtrip": oracles.CSV_ROUNDTRIP,
        "stream_dedup_latest": oracles.STREAM_DEDUP_LATEST,
        # -- round-5 additions ------------------------------------------------
        "exact_substring_dedup": oracles.exact_substring_dedup_sql(
            dedup.SUBSTR_W
        ),
        "cumulative_cardinality": oracles.CUMULATIVE_CARDINALITY,
        "retention_cohort": oracles.RETENTION_COHORT,
        "frequent_item_sets": oracles.frequent_item_sets_sql(
            eventseq.FIS_SUPPORT_NUM, eventseq.FIS_SUPPORT_DEN
        ),
        "neardup_clusters": oracles.neardup_clusters_sql(),
        "dedup_keep_best": oracles.dedup_keep_best_sql(),
        "training_order": oracles.training_order_sql(
            hashing.MOD, hashing.FP_MULT
        ),
        "tfidf_keywords": oracles.tfidf_keywords_sql(),
        "exact_substring_dedup_fast": oracles.exact_substring_dedup_sql(
            dedup.SUBSTR_W
        ),
        "percentiles_bucket": oracles.PERCENTILES_BUCKET,
        "grok_pipeline": oracles.ingest_pipeline_sql(
            ingestpipe.GROK_PIPELINE
        ),
        "moving_percentiles": oracles.moving_percentiles_sql(
            textstats.MOVING_PCT_WINDOW
        ),
        # cosine_topk_pq: rows-only (PQ is approximate; recall pytest)
        "span_near_or": oracles.span_near_or_sql(
            SPAN_OR_GROUPS, 10, SPAN_OR_SLOP
        ),
        "intervals_ordered": oracles.intervals_ordered_sql(
            INTERVALS_TERMS, 10, INTERVALS_GAPS
        ),
        "match_phrase_prefix": oracles.match_phrase_prefix_sql(
            PP_FIXED, PP_PREFIX, 10, max_expansions=PP_MAX_EXP
        ),
        "match_bool_prefix": oracles.match_bool_prefix_sql(
            MBP_FIXED, MBP_PREFIX, 10
        ),
        "rank_feature": oracles.rank_feature_sql(
            FLAGSHIP_TERMS, FLAGSHIP_K, pivot=RF_PIVOT, boost=RF_BOOST
        ),
        "terms_enum": oracles.terms_enum_sql(TE_PREFIX, TE_SIZE),
        "esql_lookup_join": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_LOOKUP_QUERY)
        ),
        "esql_mv_expand": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_MVEXPAND_QUERY)
        ),
        "msearch": oracles.msearch_sql(MSEARCH),
        "cumulative_sum_agg": oracles.CUMULATIVE_SUM,
        "derivative_agg": oracles.DERIVATIVE,
        "bucket_correlation": oracles.BUCKET_CORRELATION,
        "change_point": oracles.CHANGE_POINT,
        # emission set == batch sessionize -> the same oracle
        "stream_sessionize": oracles.sessionize_sql(1800),
        "esql_stats_where": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_STATS_WHERE_QUERY)
        ),
        "esql_bucket": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_BUCKET_QUERY)
        ),
        "esql_case": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_CASE_QUERY)
        ),
        "esql_grok": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_GROK_QUERY)
        ),
        "simple_query_string": oracles.query_string_sql(
            SQS_QUERY, 10, syntax="simple"
        ),
        "combined_fields": oracles.combined_fields_sql(FLAGSHIP_TERMS, 12),
        "distance_feature": oracles.distance_feature_sql(
            FLAGSHIP_TERMS,
            FLAGSHIP_K,
            origin=DF_ORIGIN,
            pivot=DF_PIVOT,
            boost=DF_BOOST,
        ),
        "extended_stats_bucket": oracles.EXTENDED_STATS_BUCKET,
        "moving_fn_lwa": oracles.moving_fn_sql(textstats.MOVING_FN_WINDOW),
        "bucket_count_ks_test": oracles.BUCKET_COUNT_KS_TEST,
        "domain_cap": oracles.domain_cap_sql(
            trainprep.DOMAIN_CAP, hashing.MOD, hashing.FP_MULT
        ),
        "span_containing": oracles.span_containing_sql(
            SPAN_CONT_BIG, SPAN_CONT_LITTLE, 10,
            slop=SPAN_CONT_SLOP, mode="containing",
        ),
        "span_within": oracles.span_containing_sql(
            SPAN_WITHIN_BIG, SPAN_WITHIN_LITTLE, 10,
            slop=SPAN_WITHIN_SLOP, mode="within",
        ),
        "terms_lookup": oracles.terms_lookup_sql(TL_DOC, "source", 15),
        "runtime_fields": oracles.RUNTIME_FIELDS,
        "search_template": oracles.query_string_sql(
            querystring_mod.render_search_template(ST_TEMPLATE, ST_PARAMS),
            10,
        ),
        "collapse_inner_hits": oracles.collapse_inner_hits_sql(
            FLAGSHIP_TERMS, 8, inner_size=2
        ),
        "esql_row": esql_mod.compile_sql(esql_mod.parse_esql(ESQL_ROW_QUERY)),
        "eql_sequence_until": oracles.eql_sequence_until_sql(),
        "mterm_vectors": oracles.mterm_vectors_sql(MTV_IDS),
        "esql_change_point": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_CHANGE_POINT_QUERY)
        ),
        "token_budget_sample": oracles.token_budget_sample_sql(
            trainprep.TOKEN_BUDGET, hashing.MOD, hashing.FP_MULT
        ),
        "analyze_shingles": oracles.analyze_shingles_sql(ANALYZE_TEXT),
        "esql_median": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_MEDIAN_QUERY)
        ),
        "esql_mv_stats": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_MV_STATS_QUERY)
        ),
        "msearch_template": oracles.msearch_template_sql(
            ST_TEMPLATE, MST_PARAMS, 8
        ),
        "esql_string_fns": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_STRING_FNS_QUERY)
        ),
        "esql_top_values": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_TOP_VALUES_QUERY)
        ),
        "missing_agg": oracles.MISSING_AGG,
        "global_agg": oracles.GLOBAL_AGG,
        "scripted_metric_agg": oracles.SCRIPTED_METRIC,
        "significant_text_agg": oracles.SIGNIFICANT_TEXT,
        "geotile_grid_agg": oracles.GEOTILE_GRID,
        "sparse_vector_topk": oracles.sparse_vector_sql(SPARSE_WEIGHTS, 10),
        "stratified_split": oracles.STRATIFIED_SPLIT,
        "vocab_coverage": oracles.VOCAB_COVERAGE,
        "transform_pivot": oracles.TRANSFORM_PIVOT,
        "rollup_search": oracles.ROLLUP_SEARCH,
        "geo_distance_agg": oracles.GEO_DISTANCE,
        "esql_date_fns": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_DATE_FNS_QUERY)
        ),
        "analyze_edge_ngrams": oracles.analyze_edge_ngrams_sql(ANALYZE_TEXT),
        "unigram_surprisal": oracles.UNIGRAM_SURPRISAL,
        "esql_null_predicates": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_NULL_PREDICATES_QUERY)
        ),
        "scroll_sliced": oracles.SCROLL_SLICED,
        "terms_partition_agg": oracles.TERMS_PARTITION,
        "diversified_sampler_agg": oracles.DIVERSIFIED_SAMPLER,
        "eql_sequence_pipes": oracles.eql_sequence_pipes_sql(),
        "random_sampler_agg": oracles.RANDOM_SAMPLER,
        "span_corruption": oracles.SPAN_CORRUPTION,
        "bigram_lm": oracles.BIGRAM_LM,
        "doc_perplexity": oracles.DOC_PERPLEXITY,
        "categorize_text_agg": oracles.CATEGORIZE_TEXT,
        "date_range_agg": oracles.DATE_RANGE,
        "geo_bounds_agg": oracles.GEO_BOUNDS,
        "geo_centroid_agg": oracles.GEO_CENTROID,
        "esql_sample": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_SAMPLE_QUERY)
        ),
        "paragraph_dedup": oracles.PARAGRAPH_DEDUP,
        "boilerplate_strip": oracles.BOILERPLATE_STRIP,
        "perplexity_buckets": oracles.PERPLEXITY_BUCKETS,
        "esql_fork": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_FORK_QUERY)
        ),
        "esql_categorize": esql_mod.compile_sql(
            esql_mod.parse_esql(ESQL_CATEGORIZE_QUERY)
        ),
        "eql_sample": oracles.EQL_SAMPLE,
        "nested_reverse_agg": oracles.NESTED_REVERSE,
        "link_graph_stats": oracles.LINK_GRAPH_STATS,
        "pagerank_2iter": oracles.PAGERANK_2ITER,
        "bpe_first_merge": oracles.BPE_FIRST_MERGE,
        "cube_counts": oracles.CUBE_COUNTS,
        "asof_join": oracles.ASOF_JOIN,
        "rag_chunks": oracles.RAG_CHUNKS,
        "dup_line_chars": oracles.DUP_LINE_CHARS,
        "zipf_fit": oracles.ZIPF_FIT,
        "heaps_law": oracles.HEAPS_LAW,
        "skipgram_pmi": oracles.SKIPGRAM_PMI,
        "geo_line_agg": oracles.GEO_LINE,
        "anchor_text_agg": oracles.ANCHOR_TEXT,
        "url_normalize_dedup": oracles.URL_NORMALIZE_DEDUP,
        "fix_mojibake": oracles.fix_mojibake_sql(),
        "domain_blocklist": oracles.DOMAIN_BLOCKLIST_FILTER,
        "hits_2iter": oracles.HITS_2ITER,
        "negative_sampling": oracles.NEGATIVE_SAMPLING_TABLE,
        "crawl_snapshot_diff": oracles.CRAWL_SNAPSHOT_DIFF,
        "robots_filter": oracles.ROBOTS_FILTER,
        "readability": oracles.READABILITY,
        "connected_components": oracles.CONNECTED_COMPONENTS,
        "ndcg_eval": oracles.ndcg_eval_sql(
            NDCG_TERMS, PHRASE_K, NDCG_HI, NDCG_LO
        ),
        "normalize_text": oracles.normalize_text_sql(),
        "winnowing": oracles.winnowing_sql(),
        "ltr_features": oracles.ltr_features_sql(
            NDCG_TERMS, LTR_K, NDCG_HI, NDCG_LO
        ),
        "shard_manifest": oracles.shard_manifest_sql(),
        "cdc_chunks": oracles.CDC_CHUNKS,
        "simhash_hamming": oracles.simhash_hamming_sql(),
        "shard_manifest_fast": oracles.shard_manifest_sql(),
        "prf_expansion": oracles.prf_expansion_sql(
            NDCG_TERMS, PRF_FB_K, PRF_N_TERMS
        ),
        "dedup_consensus": oracles.dedup_consensus_sql(),
        "rocchio_knn": oracles.rocchio_knn_sql(
            NDCG_TERMS, PRF_FB_K, PHRASE_K
        ),
        "textrank": oracles.TEXTRANK_KEYWORDS,
        "triangle_count": oracles.TRIANGLE_COUNT,
        "postings_size": oracles.POSTINGS_SIZE_ESTIMATE,
        "next_event_markov": oracles.NEXT_EVENT_MARKOV,
        "query_likelihood": oracles.query_likelihood_sql(
            ["the", "merge", "vector"]
        ),
        "champion_lists": oracles.champion_lists_sql(),
        "docid_remap_bytes": oracles.DOCID_REMAP_GAP_BYTES,
        "sibling_buckets": oracles.SIBLING_BUCKET_AGGS,
        "bloom_prefilter": oracles.BLOOM_PREFILTER,
        "bm25_plus": oracles.bm25_plus_sql(["the", "merge", "vector"]),
        "intersect_estimate": oracles.intersect_estimate_sql(),
        "static_prune": oracles.static_prune_sql(),
        "best_passage": oracles.best_passage_sql(
            ["the", "merge", "vector"]
        ),
        "rank_correlation": oracles.rank_correlation_sql(
            ["the", "merge", "vector"]
        ),
        "mmr_rerank": oracles.mmr_rerank_sql(),
        "char_entropy": oracles.CHAR_ENTROPY,
        "source_kl": oracles.SOURCE_KL,
        "containment_pairs": oracles.containment_sql(),
        "qpp_preretrieval": oracles.qpp_preretrieval_sql(
            ["the", "merge", "vector"]
        ),
        "front_coding": oracles.front_coding_sql(),
        "combsum_hybrid": oracles.combsum_hybrid_sql(
            ["the", "merge", "vector"]
        ),
        "quantize_fidelity": oracles.quantize_fidelity_sql(
            ["the", "merge", "vector"]
        ),
        "shard_idf_drift": oracles.shard_idf_drift_sql(
            ["the", "merge", "vector"]
        ),
        "collocations_llr": oracles.collocations_llr_sql(),
        "lm_jelinek_mercer": oracles.lm_jelinek_mercer_sql(
            ["the", "merge", "vector"]
        ),
        "dfi_topk": oracles.dfi_sql(["the", "merge", "vector"]),
        "bm25f_topk": oracles.bm25f_sql(["the", "merge", "vector"]),
        "kmv_distinct": oracles.kmv_distinct_sql(),
        "merge_policy_plan": oracles.merge_policy_plan_sql(),
        "parent_agg": oracles.PARENT_AGG,
        "bm25_maxscore": oracles.bm25_sql(FLAGSHIP_TERMS, FLAGSHIP_K),
        "avg_precision_eval": oracles.avg_precision_sql(AP_QUERIES, AP_K),
        "redde_selection": oracles.redde_sql(FLAGSHIP_TERMS),
        "elias_fano_audit": oracles.ELIAS_FANO_AUDIT,
        "soft404_filter": oracles.SOFT404_FILTER,
        "url_features": oracles.URL_FEATURES,
        "dfr_pl2": oracles.dfr_pl2_sql(FLAGSHIP_TERMS),
        "cori_selection": oracles.cori_sql(FLAGSHIP_TERMS),
        "rbp_eval": oracles.rbp_sql(AP_QUERIES, AP_K),
        "c4_filter": oracles.C4_FILTER,
        "dsir_weights": oracles.DSIR_WEIGHTS,
        "fim_transform": oracles.FIM_TRANSFORM,
        "skiplist_audit": oracles.SKIPLIST_AUDIT,
        "variable_width_histogram": oracles.VARIABLE_WIDTH_HISTOGRAM,
        "intervals_unordered": oracles.intervals_unordered_sql(
            "merge", "group", 4
        ),
        "borda_fusion": oracles.borda_fusion_sql(FLAGSHIP_TERMS),
        "err_eval": oracles.err_sql(AP_QUERIES, AP_K),
        "salsa_2iter": oracles.SALSA_2ITER,
        "index_sort_audit": oracles.index_sort_audit_sql(FLAGSHIP_TERMS),
        "symspell_suggest": oracles.symspell_sql(
            list(textstats.SYMSPELL_TYPOS)
        ),
        "routing_skew_audit": oracles.ROUTING_SKEW_AUDIT,
        "trec_pool": oracles.trec_pool_sql(AP_QUERIES),
        "blockmax_tightness": oracles.blockmax_tightness_sql(
            FLAGSHIP_TERMS
        ),
        "trending_events": oracles.TRENDING_EVENTS,
        "crawl_politeness_plan": oracles.CRAWL_POLITENESS_PLAN,
        "temperature_mixture": oracles.TEMPERATURE_MIXTURE,
        "term_burstiness": oracles.TERM_BURSTINESS,
        "norms_quant_audit": oracles.norms_quant_audit_sql(FLAGSHIP_TERMS),
        "stopword_prune_audit": oracles.stopword_prune_audit_sql(
            FLAGSHIP_TERMS
        ),
        "ilm_phase_plan": oracles.ILM_PHASE_PLAN,
        "bm25_prox": oracles.bm25_prox_sql(FLAGSHIP_TERMS),
        "ip_range_agg": oracles.IP_RANGE_AGG,
        "counter_rate": oracles.COUNTER_RATE,
        "sdm_topk": oracles.sdm_sql(FLAGSHIP_TERMS),
        "kgram_wildcard": oracles.kgram_wildcard_sql(
            [
                (p, g, len(textstats._kgram_required(p)))
                for p in textstats.KGRAM_PATTERNS
                for g in textstats._kgram_required(p)
            ]
        ),
        "langid_confusion": oracles.LANGID_CONFUSION,
        "completion_context": oracles.completion_context_sql(),
        "serp_clusters": oracles.serp_clusters_sql(FLAGSHIP_TERMS),
        "pivoted_length_audit": oracles.pivoted_length_audit_sql(
            AP_QUERIES
        ),
        "qpp_postretrieval": oracles.qpp_postretrieval_sql(AP_QUERIES),
        "rerank_depth_audit": oracles.rerank_depth_audit_sql(
            FLAGSHIP_TERMS
        ),
        "event_bursts": oracles.EVENT_BURSTS,
        "embedding_qa": oracles.EMBEDDING_QA,
        "hard_negatives": oracles.hard_negatives_sql(AP_QUERIES),
        "recrawl_schedule": oracles.RECRAWL_SCHEDULE,
        "bm25_param_sweep": oracles.bm25_param_sweep_sql(
            textstats.SWEEP_QUERIES
        ),
        "good_turing_mass": oracles.GOOD_TURING_MASS,
        "zscore_merge": oracles.zscore_merge_sql(FLAGSHIP_TERMS),
        "pfor_audit": oracles.PFOR_AUDIT,
        "source_vocab_overlap": oracles.SOURCE_VOCAB_OVERLAP,
        "judge_agreement_kappa": oracles.judge_agreement_kappa_sql(
            textstats.KAPPA_QUERIES
        ),
        "idf_negative_audit": oracles.IDF_NEGATIVE_AUDIT,
        "countmin_audit": oracles.countmin_audit_sql(
            list(textstats.CMS_PROBES)
        ),
        "nextword_index_plan": oracles.nextword_index_plan_sql(),
        "generation_rank_drift": oracles.generation_rank_drift_sql(
            FLAGSHIP_TERMS
        ),
        "post_filter_facets": oracles.post_filter_facets_sql(
            FLAGSHIP_TERMS
        ),
        "sampled_df_accuracy": oracles.sampled_df_accuracy_sql(
            ["the", "merge", "vector", "customer"]
        ),
        "taat_accumulator_audit": oracles.taat_accumulator_sql(
            FLAGSHIP_TERMS
        ),
        "jass_anytime_audit": oracles.jass_anytime_sql(FLAGSHIP_TERMS),
        "proximity_histogram": oracles.proximity_histogram_sql(),
        "query_reduction_audit": oracles.QUERY_REDUCTION_AUDIT,
        "prior_mix_audit": oracles.prior_mix_sql(FLAGSHIP_TERMS),
        "dedup_threshold_sweep": oracles.DEDUP_THRESHOLD_SWEEP,
        "partitioning_cost_audit": oracles.partitioning_cost_sql(
            FLAGSHIP_TERMS
        ),
        "hybrid_codec_assignment": oracles.HYBRID_CODEC_ASSIGNMENT,
        "blockmax_metadata_overhead": oracles.blockmax_metadata_sql(),
        "knn_label_purity": oracles.KNN_LABEL_PURITY,
        "term_position_bias": oracles.term_position_bias_sql(
            ["the", "merge", "vector", "customer"]
        ),
        "heaps_extrapolation": oracles.HEAPS_EXTRAPOLATION,
    }

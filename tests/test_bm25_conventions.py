"""The corpus-path BM25 helpers: one per stats convention, and the
multi-query ranker against the single-query scorer.

* ``query._bm25_contribs`` counts n_docs and avgdl over EVERY doc;
  ``textstats._bm25_frame`` counts only docs with at least one token. Each
  matches its own oracles. The sf0.01 fixture has no token-less doc, so the
  oracle gate cannot tell the two apart; the tiny corpus here can.
* ``query._multi_query_scores`` + ``_rank_within`` rank every query in one
  pass and must agree with ``bm25_topk_exact`` run query by query.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from unichem2index_spark import oracles
from unichem2index_spark.functions.bm25 import Bm25Oracle
from unichem2index_spark.functions.tokenize import tokenize
from unichem2index_spark.operators import query as Q
from unichem2index_spark.operators import textstats as T

from tests.conftest import SF_CORRECT

TERMS = ["the", "merge", "vector"]
TINY = [
    (1, "the merge vector merge", "en", "src0", 21),
    (2, "the fast window", "en", "src1", 15),
    (3, "vector merge the the scan group", "en", "src0", 31),
    (4, "!!!", "en", "src1", 3),  # no tokens
    (5, "merge", "de", "src0", 5),
    (6, "group window scan fast vector", "de", "src1", 29),
]
TINY_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def tiny(spark):
    pdf = pd.DataFrame(
        TINY, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    yield spark.createDataFrame(TINY, TINY_SCHEMA), con
    con.close()


def _rounded(rows):
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in rows
    )


def test_two_bm25_conventions_stay_distinct(spark, tiny):
    docs, con = tiny
    # Query path: matches its oracle, which counts every doc.
    exact = Q.bm25_topk_exact(docs, TERMS, 10)
    assert _rounded(exact.collect()) == _rounded(
        con.execute(oracles.bm25_sql(TERMS, 10)).fetchall()
    )
    # textstats path: matches its own oracle, which counts docs with tokens.
    serp = T.serp_clusters(spark, {"documents": docs}, tuple(TERMS))
    assert _rounded(serp.collect()) == _rounded(
        con.execute(oracles.serp_clusters_sql(TERMS)).fetchall()
    )
    # The two n_docs differ by the one token-less doc, and the query
    # path's scores are BM25 with that doc counted.
    every = [(d, tokenize(text)) for d, text, *_ in TINY]
    with_tokens = [(d, toks) for d, toks in every if toks]
    n_text = T._bm25_frame(docs, TERMS).stats.first().n_docs
    assert n_text == len(with_tokens) == len(every) - 1
    got = [(r.doc_id, r.score) for r in exact.collect()]
    want = [(d, round(s, 6)) for d, s in Bm25Oracle(every).topk(TERMS, 10)]
    other = [
        (d, round(s, 6)) for d, s in Bm25Oracle(with_tokens).topk(TERMS, 10)
    ]
    assert got == want
    assert got != other


def test_multi_query_ranking_matches_single_query(spark):
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    ranked = Q._rank_within(
        Q._multi_query_scores(docs, entrymod.AP_QUERIES), entrymod.AP_K
    )
    rows = ranked.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score")
    ).collect()
    for qid, terms, _ in entrymod.AP_QUERIES:
        multi = [
            (r.doc_id, r.score)
            for r in sorted(rows, key=lambda r: r.rank)
            if r.query_id == qid
        ]
        single = [
            (r.doc_id, r.score)
            for r in Q.bm25_topk_exact(docs, terms, entrymod.AP_K).collect()
        ]
        assert multi, qid
        assert multi == single, qid

"""Webtext ingest pipeline: input_hint schema -> extract (byte-identity) ->
deterministic doc_ids -> end-to-end index build + rank-identical query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unichem2index_spark.functions.bm25 import Bm25Oracle
from unichem2index_spark.functions.tokenize import tokenize
from unichem2index_spark.operators import query as Q
from unichem2index_spark.operators.ingest import (
    assign_doc_ids,
    build_index_from_webtext,
    dedup_and_assign_doc_ids,
    dedup_latest_by_url,
    webtext_docs,
)
from unichem2index_spark.schemas import WEBTEXT_SCHEMA
from unichem2index_spark.synth import gen_webtext

from tests.test_query_plumbing import count_jobs

N = 400


@pytest.fixture(scope="module")
def webtext(spark):
    df = spark.createDataFrame(gen_webtext(N, seed=42), schema=WEBTEXT_SCHEMA)
    return df.repartition(7)  # deliberately awkward parallelism


def test_extract_byte_identity_distributed(spark, webtext):
    """Arrow-UDF extraction over html equals the provided text column for
    EVERY url (the input_hint per-row invariant, checked in-cluster)."""
    docs = webtext_docs(webtext)
    joined = docs.alias("d").join(webtext.alias("w"), "url")
    n_bad = joined.where(F.col("d.text") != F.col("w.text")).count()
    assert n_bad == 0
    assert docs.count() == webtext.select("url").distinct().count()


@pytest.mark.parametrize("parts", [1, 3, 16])
def test_doc_ids_dense_rank_any_parallelism(spark, webtext, parts):
    """doc_id == rank of url, identical under any partitioning."""
    df = webtext.repartition(parts).select("url", "lang")
    got = {
        r.url: r.doc_id
        for r in assign_doc_ids(df, key="url").select("url", "doc_id").collect()
    }
    urls = sorted(got)
    assert [got[u] for u in urls] == list(range(len(urls)))


def test_doc_id_sample_sizing_runs_no_job(spark):
    """Building the doc_id frame of a shuffled source runs the fused count
    + sample collect only; sizing the sample from ``rdd.getNumPartitions()``
    ran one more job (the repartition's map stage) first."""
    src = spark.createDataFrame(
        gen_webtext(60, seed=3), schema=WEBTEXT_SCHEMA
    ).repartition(4)
    assert count_jobs(spark, lambda: dedup_and_assign_doc_ids(src)) == 2


def test_doc_ids_degenerate_keyspaces(spark):
    """Bucket-boundary edge cases: all-identical keys (every boundary
    collapses -> one bucket), tiny inputs, and an empty input."""
    from unichem2index_spark.operators.ingest import dedup_and_assign_doc_ids

    # all rows share one key: dedup keeps exactly one row, doc_id 0
    same = spark.createDataFrame(
        [("k", i) for i in range(50)], "url string, v long"
    )
    out = dedup_and_assign_doc_ids(same, key="url", ts_col="v").collect()
    assert len(out) == 1 and out[0].doc_id == 0 and out[0].v == 49

    # two distinct keys, heavy duplication
    two = spark.createDataFrame(
        [("a", i) for i in range(30)] + [("b", i) for i in range(30)],
        "url string, v long",
    )
    got = {
        r.url: (r.doc_id, r.v)
        for r in dedup_and_assign_doc_ids(two, key="url", ts_col="v").collect()
    }
    assert got == {"a": (0, 29), "b": (1, 29)}

    # empty input: empty output with the doc_id column present
    empty = spark.createDataFrame([], "url string, v long")
    eout = dedup_and_assign_doc_ids(empty, key="url", ts_col="v")
    assert eout.count() == 0 and "doc_id" in eout.columns


def test_doc_ids_null_keys_kept_once(spark, monkeypatch):
    """ADVICE r3 (medium): null keys must form ONE kept group with a dense
    doc_id — previously every null-key row was silently dropped and later
    buckets' offsets overshot. Checked on BOTH the small-corpus (single
    bucket) and bucketed paths."""
    from unichem2index_spark.operators import ingest

    rows = [(None, i) for i in range(5)] + [
        ("", 1), ("", 2), ("a", 1), ("b", 1), ("b", 9)
    ]
    df = spark.createDataFrame(rows, "url string, v long")
    for small in (10**9, 0):  # small path / forced bucketed path
        monkeypatch.setattr(ingest, "SMALL_CORPUS_ROWS", small)
        out = ingest.dedup_and_assign_doc_ids(
            df.repartition(3), key="url", ts_col="v"
        ).collect()
        got = {r.url: (r.doc_id, r.v) for r in out}
        assert len(out) == 4  # null group, "", "a", "b" — each exactly once
        # sort asc nulls-first: null rank 0, then "", "a", "b"
        assert got[None] == (0, 4)
        assert got[""] == (1, 2)
        assert got["a"] == (2, 1)
        assert got["b"] == (3, 9)


@pytest.mark.parametrize("parts", [1, 3, 16])
def test_doc_ids_bucketed_path_rank_identity(spark, webtext, parts, monkeypatch):
    """Force the full bucketed path (boundaries + per-bucket counts) on a
    small corpus: doc_id == rank of url under any parallelism."""
    from unichem2index_spark.operators import ingest

    monkeypatch.setattr(ingest, "SMALL_CORPUS_ROWS", 0)
    df = webtext.repartition(parts).select("url", "lang")
    got = {
        r.url: r.doc_id
        for r in ingest.assign_doc_ids(df, key="url").select("url", "doc_id").collect()
    }
    urls = sorted(got)
    assert [got[u] for u in urls] == list(range(len(urls)))


def test_doc_ids_cross_batch_state(spark, monkeypatch):
    """Arrow batches of 7 rows force the keep-first/rank state (bucket,
    key, next-id) to carry across MANY batch boundaries, with duplicate
    runs straddling them."""
    from unichem2index_spark.operators import ingest

    monkeypatch.setattr(ingest, "SMALL_CORPUS_ROWS", 0)
    rows = []
    for i in range(120):
        for rep in range(i % 4 + 1):  # variable-length duplicate runs
            rows.append((f"k{i:04d}", rep))
    df = spark.createDataFrame(rows, "url string, v long")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        out = ingest.dedup_and_assign_doc_ids(
            df.repartition(5), key="url", ts_col="v"
        ).collect()
    finally:
        if old is not None:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    got = {r.url: (r.doc_id, r.v) for r in out}
    assert len(got) == 120
    for i in range(120):
        assert got[f"k{i:04d}"] == (i, i % 4)


def test_dedup_latest_by_url(spark):
    rows = gen_webtext(20, seed=1)
    dup = rows + [dict(rows[3], text="OLD", html=None)]
    # make the duplicate strictly older
    import datetime as dt

    dup[-1]["warc_ts"] = rows[3]["warc_ts"] - dt.timedelta(days=1)
    df = spark.createDataFrame(dup, schema=WEBTEXT_SCHEMA)
    out = dedup_latest_by_url(df)
    assert out.count() == 20
    kept = out.where(F.col("url") == rows[3]["url"]).collect()[0]
    assert kept.text == rows[3]["text"]


def test_webtext_end_to_end_rank_identity(spark, webtext, tmp_path_factory):
    """Full north-rule path: webtext -> build -> WAND top-k, rank+score
    identical to the pure-Python oracle over the same extracted corpus."""
    out = str(tmp_path_factory.mktemp("wt_index"))
    res = build_index_from_webtext(spark, webtext, out, n_shards=4)
    handle = Q.IndexHandle.open(spark, out)

    docs = handle.store.read(spark, "url_map").join(
        handle.docs(spark), "doc_id"
    )
    corpus_rows = (
        webtext_docs(webtext).select("doc_id", "text").collect()
    )
    oracle = Bm25Oracle([(r.doc_id, tokenize(r.text)) for r in corpus_rows])
    assert res.n_docs == oracle.n_docs

    for terms, k in [(["the", "merge"], 10), (["vector", "dup", "the"], 25)]:
        got = [
            (r.doc_id, r.score)
            for r in Q.bm25_topk_wand(spark, handle, terms, k).collect()
        ]
        exp = [(d, round(s, 6)) for d, s in oracle.topk(terms, k)]
        assert got == exp

    # url_map joins back (ES _id analog) and covers every doc
    assert docs.count() == res.n_docs

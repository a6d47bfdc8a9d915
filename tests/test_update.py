"""Incremental generations + tombstones + compaction (the reference's -u
update mode, main.go:112-115, as a native index op).

Contract under test:
* after add_generation: queries see new docs, never tombstoned ones;
  stats cover every physical posting (tombstones included) — verified
  against a pure-Python oracle built under the same contract;
* after compact: results are rank+score identical to a FRESH index built
  over the live corpus (same doc_ids).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unichem2index_spark.functions.bm25 import Bm25Oracle
from unichem2index_spark.functions.tokenize import tokenize
from unichem2index_spark.operators import query as Q
from unichem2index_spark.operators.build import build_index
from unichem2index_spark.operators.ingest import build_index_from_webtext, webtext_docs
from unichem2index_spark.operators.update import add_generation, compact
from unichem2index_spark.schemas import WEBTEXT_SCHEMA
from unichem2index_spark.synth import gen_webtext, gen_webtext_row

QUERIES = [(["the", "merge"], 10), (["vector", "dup", "the"], 25), (["spark"], 5)]


@pytest.fixture(scope="module")
def updated_index(spark, tmp_path_factory):
    """Base build (300 docs) + one generation (100 new docs, 40 of which
    replace existing urls)."""
    base_rows = gen_webtext(300, seed=42)
    base = spark.createDataFrame(base_rows, schema=WEBTEXT_SCHEMA).repartition(5)
    out = str(tmp_path_factory.mktemp("gen_index"))
    build_index_from_webtext(spark, base, out, n_shards=4)

    # 40 replacements (same urls, new text+ts) + 60 brand-new urls.
    import datetime as dt

    upd_rows = []
    for j, r in enumerate(base_rows[:40]):
        nr = gen_webtext_row(10_000 + j, seed=7)
        nr["url"] = r["url"]
        nr["warc_ts"] = r["warc_ts"] + dt.timedelta(days=400)
        upd_rows.append(nr)
    for j in range(60):
        upd_rows.append(gen_webtext_row(20_000 + j, seed=7))
    upd = spark.createDataFrame(upd_rows, schema=WEBTEXT_SCHEMA).repartition(3)

    res = add_generation(spark, out, upd, build_id="t-upd")
    return out, base, upd, res


def test_update_result_counts(spark, updated_index):
    out, base, upd, res = updated_index
    assert res.gen == 1
    assert res.n_new_docs == 100
    assert res.n_replaced == 40
    handle = Q.IndexHandle.open(spark, out)
    assert handle.multi_gen
    # live docs = 300 - 40 + 100
    assert handle.docs(spark).count() == 360
    # physical postings cover 400 docs (tombstones still indexed)
    assert handle.n_docs == 400
    assert len(handle.deleted_ids(spark)) == 40


def test_updated_query_matches_oracle(spark, updated_index):
    out, base, upd, res = updated_index
    handle = Q.IndexHandle.open(spark, out)

    # Build the physical corpus the index holds: original 300 docs (ids as
    # built) + the 100 new docs (ids continuing), then the oracle with
    # stats over all 400 but tombstoned excluded from candidates.
    base_docs = webtext_docs(base).select("doc_id", "text", "url").collect()
    um = handle.store.read(spark, "url_map")
    new_ids = {
        r.url: r.doc_id
        for r in um.where(F.col("doc_id") >= 300).collect()
    }
    upd_texts = {
        r.url: r.text
        for r in upd.select("url", "text").collect()
    }
    corpus = [(r.doc_id, tokenize(r.text)) for r in base_docs]
    corpus += [(new_ids[u], tokenize(t)) for u, t in upd_texts.items()]
    assert len(corpus) == 400
    oracle = Bm25Oracle(corpus)
    deleted = handle.deleted_ids(spark)

    for terms, k in QUERIES:
        got = [
            (r.doc_id, r.score)
            for r in Q.bm25_topk_wand(spark, handle, terms, k).collect()
        ]
        full = oracle.topk(terms, k + len(deleted))
        exp = [(d, round(s, 6)) for d, s in full if d not in deleted][:k]
        assert got == exp, f"query {terms} k={k}"
        got_ms = [
            (r.doc_id, r.score)
            for r in Q.bm25_topk_maxscore(spark, handle, terms, k).collect()
        ]
        assert got_ms == exp, f"maxscore {terms} k={k}"
        batch = [{"query_id": 0, "terms": terms, "k": k}]
        got_batch = [
            (r.doc_id, r.score)
            for r in Q.bm25_topk_batch(spark, handle, batch).collect()
        ]
        assert got_batch == exp, f"batch {terms} k={k}"


def test_compact_equals_fresh_build(spark, updated_index, tmp_path_factory):
    out, base, upd, res = updated_index
    stats = compact(spark, out)
    assert stats["n_live"] == 360
    assert stats["n_deleted_dropped"] == 40

    handle = Q.IndexHandle.open(spark, out)
    assert not handle.multi_gen
    assert handle.n_docs == 360
    assert not handle.store.exists("deletes")

    # Fresh index over the live corpus with the SAME doc_ids.
    um = handle.store.read(spark, "url_map").select("doc_id", "url")
    live_docs = handle.store.read(spark, "docs")
    # Rebuild text per live doc from the fixtures:
    base_texts = {r["url"]: r["text"] for r in base.select("url", "text").collect()}
    upd_texts = {r["url"]: r["text"] for r in upd.select("url", "text").collect()}
    rows = []
    for r in um.collect():
        text = upd_texts.get(r.url, base_texts.get(r.url))
        rows.append((r.doc_id, text))
    fresh_df = spark.createDataFrame(rows, "doc_id long, text string")
    fresh_out = str(tmp_path_factory.mktemp("fresh"))
    build_index(spark, fresh_df, fresh_out, n_shards=4)
    fresh = Q.IndexHandle.open(spark, fresh_out)
    assert fresh.n_docs == 360
    assert abs(fresh.avgdl - handle.avgdl) < 1e-9

    for terms, k in QUERIES:
        got = [
            (r.doc_id, r.score)
            for r in Q.bm25_topk_wand(spark, handle, terms, k).collect()
        ]
        exp = [
            (r.doc_id, r.score)
            for r in Q.bm25_topk_wand(spark, fresh, terms, k).collect()
        ]
        assert got == exp, f"query {terms} k={k}"


def test_large_delete_set(spark, tmp_path):
    """10^5-row tombstone set: the query path must stay correct with a
    delete set far beyond closure-capture scale (it rides the per-shard
    cogroup, never the driver)."""
    rows = gen_webtext(200, seed=3)
    wt = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    out = str(tmp_path / "bigdel")
    build_index_from_webtext(spark, wt, out, n_shards=4)
    h0 = Q.IndexHandle.open(spark, out)
    before = Q.bm25_topk_wand(spark, h0, ["the", "merge"], 10).collect()
    top_doc = before[0].doc_id

    # Tombstone the current top doc plus 10^5 phantom ids, committed as
    # generation 1 (phantoms exercise volume; the real one exercises
    # correctness).
    dele = (
        spark.range(100_000)
        .select((F.col("id") + 1_000_000).alias("doc_id"))
        .union(spark.createDataFrame([(int(top_doc),)], "doc_id long"))
        .withColumn("gen", F.lit(1))
    )
    h0.store.write_gen_partition(dele, "deletes")
    mf = h0.store.read_manifest()
    mf["generations"] = [0, 1]
    h0.store.write_manifest(mf)

    h1 = Q.IndexHandle.open(spark, out)
    after = Q.bm25_topk_wand(spark, h1, ["the", "merge"], 10).collect()
    got_ids = [r.doc_id for r in after]
    assert top_doc not in got_ids
    # remaining ranks shift up by exactly one (stats unchanged by deletes)
    assert got_ids[:9] == [r.doc_id for r in before[1:10]]
    assert h1.docs(spark).count() == 199
    # batch path sees the same tombstones
    batch = Q.bm25_topk_batch(
        spark, h1, [{"query_id": 0, "terms": ["the", "merge"], "k": 10}]
    ).collect()
    assert [r.doc_id for r in batch] == got_ids


def test_uncommitted_generation_invisible(spark, tmp_path):
    """Crash-before-commit simulation: new-gen partitions exist on disk
    but the manifest doesn't name the generation — every read must see
    exactly the pre-update index."""
    import shutil

    rows = gen_webtext(150, seed=5)
    wt = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    out = str(tmp_path / "crash")
    build_index_from_webtext(spark, wt, out, n_shards=4)
    store = Q.IndexHandle.open(spark, out).store
    mf_before = store.read_manifest()
    ts_before = store._resolve("term_stats")
    shutil.copytree(store.path(ts_before), str(tmp_path / "ts_backup"))
    h = Q.IndexHandle.open(spark, out)
    before = Q.bm25_topk_wand(spark, h, ["the", "merge"], 10).collect()
    n_before = h.docs(spark).count()

    import datetime as dt

    upd = []
    for j, r in enumerate(rows[:10]):
        nr = gen_webtext_row(30_000 + j, seed=11)
        nr["url"] = r["url"]
        nr["warc_ts"] = r["warc_ts"] + dt.timedelta(days=400)
        upd.append(nr)
    add_generation(
        spark, out, spark.createDataFrame(upd, schema=WEBTEXT_SCHEMA)
    )
    # roll the manifest back = the state a crash-before-commit leaves
    # (gen-1 segments/docs/url_map/deletes partitions all on disk, staged
    # term_stats_v1 written, manifest still the old one)
    shutil.rmtree(store.path(ts_before), ignore_errors=True)
    shutil.copytree(str(tmp_path / "ts_backup"), store.path(ts_before))
    store.write_manifest(mf_before)

    h2 = Q.IndexHandle.open(spark, out)
    assert not h2.multi_gen
    assert h2.docs(spark).count() == n_before
    after = Q.bm25_topk_wand(spark, h2, ["the", "merge"], 10).collect()
    assert [(r.doc_id, r.score) for r in after] == [
        (r.doc_id, r.score) for r in before
    ]
    # and a retried update converges to the same committed state
    res = add_generation(
        spark, out, spark.createDataFrame(upd, schema=WEBTEXT_SCHEMA)
    )
    assert res.n_new_docs == 10 and res.n_replaced == 10
    h3 = Q.IndexHandle.open(spark, out)
    assert h3.docs(spark).count() == n_before  # 10 replaced, 0 net-new


def test_update_on_empty_base_index(spark, tmp_path):
    """add_generation onto an index built over zero docs: the empty-batch
    case must leave the placeholder tables intact (manifest stays valid),
    and a real first batch must land as generation 1 with no tombstone
    step (an empty index has no live urls to replace)."""
    out = str(tmp_path / "emptyidx")
    empty = spark.createDataFrame([], "doc_id long, text string")
    build_index(spark, empty, out, n_shards=4)
    h = Q.IndexHandle.open(spark, out)
    assert h.n_docs == 0

    # Empty batch on the empty index: strict no-op — no table deleted.
    res0 = add_generation(
        spark, out, spark.createDataFrame([], schema=WEBTEXT_SCHEMA)
    )
    assert res0.n_new_docs == 0
    h0 = Q.IndexHandle.open(spark, out)
    assert h0.store.exists("term_stats")
    assert Q.bm25_topk_wand(spark, h0, ["the"], 5).count() == 0

    # Real first batch: becomes generation 1, fully queryable.
    rows = gen_webtext(50, seed=13)
    res = add_generation(
        spark, out, spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
    )
    assert res.n_new_docs == 50 and res.n_replaced == 0
    h1 = Q.IndexHandle.open(spark, out)
    assert h1.docs(spark).count() == 50
    assert Q.bm25_topk_wand(spark, h1, ["the", "merge"], 5).count() == 5
    # and a follow-up update with replacements works on top of it
    import datetime as dt

    upd = []
    for j, r in enumerate(rows[:5]):
        nr = gen_webtext_row(40_000 + j, seed=17)
        nr["url"] = r["url"]
        nr["warc_ts"] = r["warc_ts"] + dt.timedelta(days=400)
        upd.append(nr)
    res2 = add_generation(
        spark, out, spark.createDataFrame(upd, schema=WEBTEXT_SCHEMA)
    )
    assert res2.n_new_docs == 5 and res2.n_replaced == 5
    assert Q.IndexHandle.open(spark, out).docs(spark).count() == 50


def test_gc_retention_window(spark, tmp_path):
    """Retired table versions survive exactly one commit: a reader (or a
    lazily-evaluated DataFrame holding resolved paths) opened before an
    update keeps working through it; the version is GC'd by the NEXT
    commit."""
    import datetime as dt
    import os

    rows = gen_webtext(80, seed=19)
    out = str(tmp_path / "retention")
    build_index_from_webtext(
        spark, spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA), out, n_shards=4
    )
    h = Q.IndexHandle.open(spark, out)
    store = h.store
    ts0 = store._resolve("term_stats")
    # DataFrame created pre-update: resolves ts0's physical path now.
    stale_df = h.term_stats(spark)

    def batch(seed, n):
        out_rows = []
        for j, r in enumerate(rows[:n]):
            nr = gen_webtext_row(50_000 + seed * 100 + j, seed=seed)
            nr["url"] = r["url"]
            nr["warc_ts"] = r["warc_ts"] + dt.timedelta(days=400 + seed)
            out_rows.append(nr)
        return spark.createDataFrame(out_rows, schema=WEBTEXT_SCHEMA)

    add_generation(spark, out, batch(1, 10))
    ts1 = store._resolve("term_stats")
    assert ts1 != ts0
    # retired, not removed — the pre-update DataFrame still evaluates
    assert os.path.exists(store.path(ts0))
    assert stale_df.count() > 0

    add_generation(spark, out, batch(2, 10))
    # one commit later the retired version is physically gone
    assert not os.path.exists(store.path(ts0))
    assert os.path.exists(store.path(ts1))


def test_compact_is_idempotent(spark, updated_index):
    out, *_ = updated_index
    handle_before = Q.IndexHandle.open(spark, out)
    before = [
        (r.doc_id, r.score)
        for r in Q.bm25_topk_wand(spark, handle_before, ["the", "merge"], 10).collect()
    ]
    stats = compact(spark, out)
    assert stats["n_deleted_dropped"] == 0
    handle = Q.IndexHandle.open(spark, out)
    after = [
        (r.doc_id, r.score)
        for r in Q.bm25_topk_wand(spark, handle, ["the", "merge"], 10).collect()
    ]
    assert before == after

"""Shared per-shard query plumbing: Spark jobs per hot call, and a term
that has segment rows but no term_stats row.

* A hot call on a cached handle runs a fixed number of Spark jobs: the idf
  collect and the query job, plus the tombstone read and shuffle once the
  index has deletes. A change to the per-shard primitive that adds an
  exchange or a helper job shows up here.
* A segment term without a stats row is "absent" on every path: the batch
  kernel answers like the single-query WAND kernel instead of raising.
* Building a corpus-path ranker's DataFrame runs no Spark job: corpus and
  field statistics are aggregates inside the query's own plan.
"""

from __future__ import annotations

import itertools

import pytest

from unichem2index_spark.operators import query as Q
from unichem2index_spark.operators.ingest import build_index_from_webtext
from unichem2index_spark.operators.update import delete_by_query
from unichem2index_spark.schemas import WEBTEXT_SCHEMA
from unichem2index_spark.synth import gen_webtext

from tests.conftest import SF_SMOKE

_group_ids = itertools.count()

WAND = (["the", "merge"], 10)
PHRASE = (["merge", "group"], 10)
BATCH = [
    {"query_id": 0, "terms": ["the", "merge"], "k": 10},
    {"query_id": 1, "terms": ["vector", "dup"], "k": 5},
]


def count_jobs(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs (authoring and collect)."""
    sc = spark.sparkContext
    group = f"jobcount-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def hot_job_counts(spark, index_dir: str) -> dict[str, int]:
    h = Q.IndexHandle.open(spark, index_dir, cache=True)
    calls = {
        "wand": lambda: Q.bm25_topk_wand(spark, h, *WAND).collect(),
        "phrase": lambda: Q.phrase_topk(spark, h, *PHRASE).collect(),
        "batch": lambda: Q.bm25_topk_batch(spark, h, BATCH).collect(),
    }
    try:
        for call in calls.values():  # warm: Python workers, cached scans
            call()
        return {name: count_jobs(spark, call) for name, call in calls.items()}
    finally:
        h.close()


@pytest.fixture(scope="module")
def job_counts(spark, tmp_path_factory):
    rows = gen_webtext(200, seed=42)
    base = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA).repartition(4)
    out = str(tmp_path_factory.mktemp("jobs_index"))
    build_index_from_webtext(spark, base, out, n_shards=4, positions=True)
    fresh = hot_job_counts(spark, out)
    res = delete_by_query(spark, out, "doclen >= 60", build_id="t-jobs")
    assert res.n_replaced > 0
    return {"fresh": fresh, "tombstoned": hot_job_counts(spark, out)}


@pytest.mark.parametrize(
    "state, expected",
    [
        ("fresh", {"wand": 2, "phrase": 2, "batch": 6}),
        ("tombstoned", {"wand": 4, "phrase": 4, "batch": 8}),
    ],
)
def test_hot_call_job_counts(job_counts, state, expected):
    assert job_counts[state] == expected


def test_missing_stats_row_means_term_absent(spark, tmp_path_factory):
    rows = gen_webtext(120, seed=7)
    base = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA).repartition(2)
    out = str(tmp_path_factory.mktemp("missing_stats"))
    build_index_from_webtext(spark, base, out, n_shards=2)
    store = Q.IndexHandle.open(spark, out).store
    dropped = "merge"
    ts = store.read(spark, "term_stats")
    assert ts.where(ts.term == dropped).count() == 1
    # Rewrite term_stats without one queried term; its segment rows stay.
    phys = store.stage_table(ts.where(ts.term != dropped), "term_stats")
    mf = store.read_manifest()
    mf.setdefault("tables", {})["term_stats"] = phys
    store.write_manifest(mf)

    h = Q.IndexHandle.open(spark, out)
    terms, k = ["the", dropped, "vector"], 10
    exp = [
        (r.doc_id, r.score)
        for r in Q.bm25_topk_wand(spark, h, terms, k).collect()
    ]
    assert exp
    got = [
        (r.doc_id, r.score)
        for r in Q.bm25_topk_batch(
            spark, h, [{"query_id": 0, "terms": terms, "k": k}]
        ).collect()
    ]
    assert got == exp


RANK_QUERIES = [(0, ["merge", "group"], "key"), (1, ["the", "vector"], "merge")]
CORPUS_RANKERS = {
    "multi_match_topk": lambda spark, docs: Q.multi_match_topk(
        spark, docs, ["the", "merge", "vector"], 10
    ),
    "avg_precision_eval": lambda spark, docs: Q.avg_precision_eval(
        docs, RANK_QUERIES
    ),
    "rbp_eval": lambda spark, docs: Q.rbp_eval(docs, RANK_QUERIES),
    "hard_negatives": lambda spark, docs: Q.hard_negatives(
        docs, RANK_QUERIES
    ),
    "qpp_postretrieval": lambda spark, docs: Q.qpp_postretrieval(
        docs, RANK_QUERIES
    ),
    "pivoted_length_audit": lambda spark, docs: Q.pivoted_length_audit(
        docs, RANK_QUERIES
    ),
    "err_eval": lambda spark, docs: Q.err_eval(docs, RANK_QUERIES),
}


@pytest.mark.parametrize("name", list(CORPUS_RANKERS))
def test_corpus_ranker_builds_without_jobs(spark, name):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    build = CORPUS_RANKERS[name]
    assert count_jobs(spark, lambda: build(spark, docs)) == 0

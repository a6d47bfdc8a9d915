"""Shared per-shard query plumbing: Spark jobs and JVM round trips per hot
call, the plan of a hot call, query terms that a SQL literal would have
to quote, and a term that has segment rows but no term_stats row.

* A hot WAND or phrase call on a cached handle is one Spark job, on a
  never-updated index and on one with tombstones: idf rides the cached
  segment rows and the tombstones are cached partitioned by shard like
  them, so the call needs no idf collect, no tombstone read and no
  exchange. A change to the per-shard primitive that adds an exchange or
  a helper job shows up here, and so does one that adds py4j round trips
  to authoring a hot call or moves the kernel off the Arrow nodes.
* Terms with quotes, backslashes, ``%``, non-ASCII text or an
  injection-shaped body answer exactly as the oracles do, and the term
  filter is still pushed into the cached and the parquet scan.
* A segment term without a stats row is "absent" on every path and with
  or without the cache: the batch and boosted kernels answer as if the
  term were not queried, and a phrase with it matches nothing.
* Building a corpus-path ranker's DataFrame runs no Spark job: corpus and
  field statistics are aggregates inside the query's own plan.
"""

from __future__ import annotations

import threading
import uuid

import pytest
from pyspark.sql import functions as F

from unichem2index_spark.functions.bm25 import Bm25Oracle
from unichem2index_spark.functions.tokenize import tokenize
from unichem2index_spark.operators import query as Q
from unichem2index_spark.operators.build import build_index
from unichem2index_spark.operators.ingest import build_index_from_webtext
from unichem2index_spark.operators.update import delete_by_query
from unichem2index_spark.schemas import WEBTEXT_SCHEMA
from unichem2index_spark.synth import gen_webtext

from tests.conftest import SF_SMOKE

WAND = (["the", "merge"], 10)
PHRASE = (["merge", "group"], 10)
BATCH = [
    {"query_id": 0, "terms": ["the", "merge"], "k": 10},
    {"query_id": 1, "terms": ["vector", "dup"], "k": 5},
]


def count_jobs(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs (authoring and collect)."""
    sc = spark.sparkContext
    # unique per call: this module is imported under two names (by pytest
    # and as tests.test_query_plumbing), so a module counter would repeat
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status tracker asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def count_py4j(spark, fn) -> int:
    """py4j commands this thread sends while ``fn`` runs: its JVM round
    trips. Releases of Python-side handles ("m" commands) are left out:
    they follow the garbage collector, not the code under test."""
    client = spark.sparkContext._gateway._gateway_client
    send, me, sent = client.send_command, threading.get_ident(), []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        del client.send_command  # the class's method again
    return len(sent)


def python_nodes_and_exchanges(df) -> tuple[list[str], list[str]]:
    """Collect ``df``, then list the per-shard Python nodes of its
    executed plan (FlatMap[Co]GroupsIn{Arrow,Pandas}) and the exchange
    nodes that sit below one. A cached frame's own plan is not a child of
    its scan, so the exchange that built the cache is not counted."""
    df.collect()
    found, python_nodes = [], []

    def walk(node, below: bool) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), below)
        if name.endswith("QueryStageExec"):  # AQE wrapper of one subplan
            return walk(node.plan(), below)
        if below and "Exchange" in name:
            found.append(name)
        if name.startswith("FlatMap") and ("InArrow" in name or "InPandas" in name):
            python_nodes.append(name)
            below = True
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), below)

    walk(df._jdf.queryExecution().executedPlan(), False)
    assert python_nodes, "no per-shard Python node in the plan"
    return python_nodes, found


def hot_calls(spark, index_dir: str):
    """Job counts, authoring py4j round trips, per-shard Python nodes and
    below-Python exchanges of hot calls on a cached handle, after one
    warm-up round (Python workers, cached scans and projections)."""
    h = Q.IndexHandle.open(spark, index_dir, cache=True)
    frames = {
        "wand": lambda: Q.bm25_topk_wand(spark, h, *WAND),
        "phrase": lambda: Q.phrase_topk(spark, h, *PHRASE),
        "batch": lambda: Q.bm25_topk_batch(spark, h, BATCH),
    }
    try:
        for frame in frames.values():
            frame().collect()
        jobs = {
            name: count_jobs(spark, lambda f=frame: f().collect())
            for name, frame in frames.items()
        }
        py4j = {
            name: count_py4j(spark, frames[name]) for name in ("wand", "phrase")
        }
        plans = {
            name: python_nodes_and_exchanges(frames[name]())
            for name in ("wand", "phrase")
        }
        return jobs, plans, py4j
    finally:
        h.close()


@pytest.fixture(scope="module")
def hot_index(spark, tmp_path_factory) -> str:
    rows = gen_webtext(200, seed=42)
    base = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA).repartition(4)
    out = str(tmp_path_factory.mktemp("jobs_index"))
    build_index_from_webtext(spark, base, out, n_shards=4, positions=True)
    return out


@pytest.fixture(scope="module")
def hot(spark, hot_index):
    out = hot_index
    fresh = hot_calls(spark, out)
    res = delete_by_query(spark, out, "doclen >= 60", build_id="t-jobs")
    assert res.n_replaced > 0
    return {"fresh": fresh, "tombstoned": hot_calls(spark, out)}


# batch: the shard kernels' job and the single-partition merge's
# (4 while the merge ran a per-query window exchange and a global sort).
@pytest.mark.parametrize(
    "state, expected",
    [
        ("fresh", {"wand": 1, "phrase": 1, "batch": 2}),
        ("tombstoned", {"wand": 1, "phrase": 1, "batch": 2}),
    ],
)
def test_hot_call_job_counts(hot, state, expected):
    assert hot[state][0] == expected


@pytest.mark.parametrize("state", ["fresh", "tombstoned"])
def test_hot_call_plan_has_no_exchange_below_the_shard_kernel(hot, state):
    assert {name: ex for name, (_, ex) in hot[state][1].items()} == {
        "wand": [],
        "phrase": [],
    }


@pytest.mark.parametrize(
    "state, node",
    [
        ("fresh", "FlatMapGroupsInArrowExec"),
        ("tombstoned", "FlatMapCoGroupsInArrowExec"),
    ],
)
def test_hot_call_kernel_runs_on_arrow_nodes(hot, state, node):
    assert {name: nodes for name, (nodes, _) in hot[state][1].items()} == {
        "wand": [node],
        "phrase": [node],
    }


# py4j round trips to author one hot call on a cached handle. Through
# applyInPandas, with an isin term filter and a merge of fresh Columns,
# the same calls took 141 (WAND) and 139 (phrase) fresh, 154 and 152
# tombstoned.
PY4J_PER_CALL = {
    "fresh": {"wand": 18, "phrase": 18},
    "tombstoned": {"wand": 20, "phrase": 20},
}


@pytest.mark.parametrize("state", ["fresh", "tombstoned"])
def test_hot_call_authoring_py4j_round_trips(hot, state):
    assert hot[state][2] == PY4J_PER_CALL[state]


def test_cached_handle_builds_each_projection_once(spark, hot_index):
    h = Q.IndexHandle.open(spark, hot_index, cache=True)
    try:
        wand = h.cached_projection(Q._WAND_COLS)
        assert h.cached_projection(list(Q._WAND_COLS)) is wand
        phrase = h.cached_projection(Q._PHRASE_COLS)
        assert phrase is not wand and phrase.columns == Q._PHRASE_COLS
        Q.bm25_topk_wand(spark, h, *WAND).collect()
        Q.phrase_topk(spark, h, *PHRASE).collect()
        assert h.cached_projection(Q._WAND_COLS) is wand
        assert h.cached_projection(Q._PHRASE_COLS) is phrase
    finally:
        h.close()
    assert h._projections == {}


def _hits(df) -> list[tuple[int, float]]:
    return [(r.doc_id, r.score) for r in df.collect()]


@pytest.fixture(scope="module")
def missing_stats_index(spark, tmp_path_factory):
    """A positional index whose term_stats lost the row of ``merge`` (its
    segment rows stay), and a phrase with ``merge`` that matched before."""
    rows = gen_webtext(120, seed=7)
    base = spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA).repartition(2)
    out = str(tmp_path_factory.mktemp("missing_stats"))
    build_index_from_webtext(spark, base, out, n_shards=2, positions=True)
    h = Q.IndexHandle.open(spark, out)
    dropped = "merge"
    followers = sorted(
        {
            toks[i + 1]
            for toks in (tokenize(r["text"]) for r in rows)
            for i in range(len(toks) - 1)
            if toks[i] == dropped
        }
    )
    phrase = next(
        [dropped, nxt]
        for nxt in followers
        if _hits(Q.phrase_topk(spark, h, [dropped, nxt], 10))
    )
    store = h.store
    ts = store.read(spark, "term_stats")
    assert ts.where(ts.term == dropped).count() == 1
    # Rewrite term_stats without one queried term; its segment rows stay.
    phys = store.stage_table(ts.where(ts.term != dropped), "term_stats")
    mf = store.read_manifest()
    mf.setdefault("tables", {})["term_stats"] = phys
    store.write_manifest(mf)
    return out, dropped, phrase


@pytest.mark.parametrize("cache", [False, True], ids=["uncached", "cached"])
def test_missing_stats_row_means_term_absent(spark, missing_stats_index, cache):
    out, dropped, phrase = missing_stats_index
    h = Q.IndexHandle.open(spark, out, cache=cache)
    try:
        terms, live, k = ["the", dropped, "vector"], ["the", "vector"], 10
        exp = _hits(Q.bm25_topk_wand(spark, h, live, k))
        assert exp
        assert _hits(Q.bm25_topk_wand(spark, h, terms, k)) == exp
        got = _hits(
            Q.bm25_topk_batch(
                spark, h, [{"query_id": 0, "terms": terms, "k": k}]
            )
        )
        assert got == exp
        boosted = _hits(
            Q.bm25_topk_wand(
                spark, h, terms, k, boosts={"the": 2.0, dropped: 3.0}
            )
        )
        assert boosted == _hits(
            Q.bm25_topk_wand(spark, h, live, k, boosts={"the": 2.0})
        )
        assert boosted != exp
        assert _hits(Q.phrase_topk(spark, h, phrase, k)) == []
    finally:
        h.close()


# Corpus terms renamed to terms a SQL string literal would have to quote,
# and an injection-shaped term that no doc holds.
ODD_TERMS = {
    "merge": "o'merge",
    "group": "back\\slash",
    "filter": "100%",
    "key": "caf\u00e9",
}
INJECTION = "x' OR '1'='1"
ODD_WAND = [
    ["o'merge", "the"],
    ["back\\slash", "100%"],
    ["caf\u00e9"],
    ["caf\u00e9", INJECTION, "o'merge"],
]
ODD_PHRASES = [
    ["o'merge", "back\\slash"],
    ["the", "100%"],
    ["caf\u00e9", "the"],
    ["o'merge", INJECTION],
]


@pytest.fixture(scope="module")
def odd_terms_index(spark, tmp_path_factory):
    """A positional index whose segment rows and term_stats hold the
    ODD_TERMS names instead of the corpus terms, and the corpus as
    (doc_id, tokens) under the same renaming."""
    rows = gen_webtext(150, seed=3)
    texts = [(i, r["text"]) for i, r in enumerate(rows)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("odd_terms"))
    build_index(spark, docs, out, n_shards=2, positions=True)
    term = F.col("term")
    renamed = term
    for old, new in ODD_TERMS.items():
        renamed = F.when(term == old, F.lit(new)).otherwise(renamed)
    store = Q.IndexHandle.open(spark, out).store
    seg = store.stage_segments(
        store.read(spark, "segments").withColumn("term", renamed)
    )
    ts = store.stage_table(
        store.read(spark, "term_stats").withColumn("term", renamed), "term_stats"
    )
    mf = store.read_manifest()
    mf.setdefault("tables", {}).update(segments=seg, term_stats=ts)
    store.write_manifest(mf)
    corpus = [(i, [ODD_TERMS.get(t, t) for t in tokenize(x)]) for i, x in texts]
    return out, corpus


def _phrase_scan(corpus, phrase, k):
    """Brute-force exact phrase: docs holding ``phrase`` as consecutive
    tokens, BM25 over its unique terms, (score desc, doc_id asc)."""
    oracle, n, uniq = Bm25Oracle(corpus), len(phrase), sorted(set(phrase))
    hits = [
        (d, round(oracle.score_doc(uniq, d), 6))
        for d, toks in corpus
        if any(toks[i : i + n] == phrase for i in range(len(toks) - n + 1))
    ]
    return sorted(hits, key=lambda p: (-p[1], p[0]))[:k]


@pytest.mark.parametrize("cache", [False, True], ids=["uncached", "cached"])
def test_quoted_terms_answer_as_the_oracles(spark, odd_terms_index, cache):
    out, corpus = odd_terms_index
    oracle = Bm25Oracle(corpus)
    h = Q.IndexHandle.open(spark, out, cache=cache)
    try:
        for terms in ODD_WAND:
            want = [(d, round(s, 6)) for d, s in oracle.topk(terms, 10)]
            assert want and _hits(Q.bm25_topk_wand(spark, h, terms, 10)) == want
        found = 0
        for phrase in ODD_PHRASES:
            want = _phrase_scan(corpus, phrase, 10)
            assert _hits(Q.phrase_topk(spark, h, phrase, 10)) == want
            found += len(want)
        assert found
        assert _hits(Q.bm25_topk_wand(spark, h, [INJECTION], 10)) == []
    finally:
        h.close()


def _scan_line(df, *marks: str) -> str:
    """The one line of ``df``'s physical plan that holds every mark."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    (line,) = [ln for ln in plan.splitlines() if all(m in ln for m in marks)]
    return line


@pytest.mark.parametrize("cache", [False, True], ids=["uncached", "cached"])
def test_quoted_term_filter_is_pushed_into_the_scan(spark, odd_terms_index, cache):
    out, _ = odd_terms_index
    terms = sorted(ODD_TERMS.values()) + [INJECTION]
    h = Q.IndexHandle.open(spark, out, cache=cache)
    try:
        seg, _ = h._scan(spark, terms, Q._WAND_COLS)
        if cache:
            line = _scan_line(seg, "InMemoryTableScan")
            assert " IN (" in line or "INSET" in line
        else:
            line = _scan_line(seg, "FileScan parquet", "/segments")
            assert "PushedFilters: [In(term, [" in line
        assert INJECTION in line and "o'merge" in line
    finally:
        h.close()


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
    "prf_expansion": lambda spark, docs: Q.prf_expansion(
        docs, ["merge", "group"], 5, 10
    ),
}


@pytest.mark.parametrize("name", list(CORPUS_RANKERS))
def test_corpus_ranker_builds_without_jobs(spark, name):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    build = CORPUS_RANKERS[name]
    assert count_jobs(spark, lambda: build(spark, docs)) == 0

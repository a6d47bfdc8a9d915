"""The (shard, term) group walker behind the build merge, compaction and
reindex, and the build's pre-split check.

* The rows written do not depend on where Arrow batch boundaries fall:
  the walker carries a group cut by a boundary until its last row
  arrives. Run at ``maxRecordsPerBatch`` 1 and 7, every group spans
  batches, and rows must equal those of the default setting.
* Each of the three kernels is one ``MapInPandas`` over a sort on
  hash-partitioned ``(shard, term)``, with no per-group Python node.
* build -> add_generation -> compact writes exactly the segment and
  term_stats rows of the per-group ``applyInPandas`` kernels it replaced:
  the digests below were taken from that implementation on this corpus.
* Sizing the build's input split reads the partition count from the plan
  and runs no Spark job on a shuffled source.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import re
import shutil
from contextlib import contextmanager

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from unichem2index_spark.operators import build as B
from unichem2index_spark.operators.ingest import build_index_from_webtext, webtext_docs
from unichem2index_spark.operators.update import add_generation, compact, reindex
from unichem2index_spark.schemas import POS_SEGMENT_SCHEMA, WEBTEXT_SCHEMA
from unichem2index_spark.sources.tables import SegmentStore
from unichem2index_spark.synth import gen_webtext, gen_webtext_row

from tests.conftest import SF_SMOKE
from tests.test_query_plumbing import count_jobs

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
SEG_COLS = [f.name for f in POS_SEGMENT_SCHEMA.fields]

# sha256 prefixes of the ordered segment / term_stats rows, written by the
# per-group applyInPandas merge and re-chunk on the corpus of `chain`.
EXPECTED = {
    "built": ("03595085189ac436", "46ac055f375f9e07"),
    "updated": ("6a613419233e085b", "8200dbe0b3ff0a79"),
    "compacted": ("253b71f98469d801", "c5fae24e4268ec9b"),
}


@contextmanager
def arrow_batch(spark, n: int | None):
    """Run the block with ``n`` rows per Arrow batch (None: the default)."""
    old = spark.conf.get(BATCH_CONF, None)
    if n is not None:
        spark.conf.set(BATCH_CONF, str(n))
    try:
        yield
    finally:
        if old is not None:
            spark.conf.set(BATCH_CONF, old)
        else:
            spark.conf.unset(BATCH_CONF)


def _rows(df, cols: list[str], order: list[str]) -> list[tuple]:
    return [tuple(r) for r in df.select(*cols).orderBy(*order).collect()]


def _digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(v.hex() if isinstance(v, (bytes, bytearray)) else v for v in r)).encode())
    return h.hexdigest()[:16]


def index_rows(spark, index_dir: str) -> tuple[list[tuple], list[tuple]]:
    """(segment rows of the committed generations, term_stats rows)."""
    store = SegmentStore(index_dir)
    gens = store.read_manifest()["generations"]
    seg = store.read_committed(spark, "segments", gens)
    return (
        _rows(seg, SEG_COLS, ["gen", "shard", "term", "block_id"]),
        _rows(store.read(spark, "term_stats"), ["term", "df", "cf", "idf"], ["term"]),
    )


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    """A positional 3-shard index built from 150 webtext docs, then one
    generation of 20 replaced urls + 25 new ones. Returns the index dir
    and the rows after each step."""
    root = tmp_path_factory.mktemp("term_groups")
    base_rows = gen_webtext(150, seed=11)
    idx = str(root / "idx")
    base = spark.createDataFrame(base_rows, schema=WEBTEXT_SCHEMA).repartition(3)
    build_index_from_webtext(spark, base, idx, n_shards=3, positions=True)
    built = index_rows(spark, idx)
    upd = []
    for j, r in enumerate(base_rows[:20]):
        nr = gen_webtext_row(5_000 + j, seed=13)
        nr["url"], nr["warc_ts"] = r["url"], r["warc_ts"] + dt.timedelta(days=400)
        upd.append(nr)
    upd += [gen_webtext_row(6_000 + j, seed=13) for j in range(25)]
    add_generation(spark, idx, spark.createDataFrame(upd, schema=WEBTEXT_SCHEMA).repartition(2))
    return idx, {"built": built, "updated": index_rows(spark, idx)}


def _compacted(spark, chain, dest: str, batch: int | None):
    shutil.copytree(chain[0], dest)
    with arrow_batch(spark, batch):
        compact(spark, dest)
    return index_rows(spark, dest)


@pytest.fixture(scope="module")
def compacted(spark, chain, tmp_path_factory):
    return _compacted(spark, chain, str(tmp_path_factory.mktemp("tg_c") / "idx"), None)


def test_rows_equal_the_per_group_kernels(chain, compacted):
    steps = dict(chain[1], compacted=compacted)
    got = {k: (_digest(seg), _digest(ts)) for k, (seg, ts) in steps.items()}
    assert got == EXPECTED


@pytest.mark.parametrize("batch", [1, 7])
def test_compact_rows_independent_of_arrow_batch(spark, chain, compacted, batch, tmp_path):
    assert _compacted(spark, chain, str(tmp_path / "idx"), batch) == compacted


@pytest.mark.parametrize("batch", [1, 7])
def test_reindex_rows_independent_of_arrow_batch(spark, chain, batch, tmp_path):
    def run(dest, n):
        with arrow_batch(spark, n):
            reindex(spark, chain[0], dest, predicate="doclen >= 10", n_shards=2)
        return index_rows(spark, dest)

    assert run(str(tmp_path / "b"), batch) == run(str(tmp_path / "d"), None)


@pytest.fixture(scope="module")
def many_runs(spark):
    """SPIMI runs over 4 input partitions, flushed every 40 postings and
    every 2 input rows, so a frequent term's group holds many runs."""
    tok = B.tokenized_docs(
        webtext_docs(spark.createDataFrame(gen_webtext(80, seed=3), schema=WEBTEXT_SCHEMA))
    ).repartition(4).persist(StorageLevel.DISK_ONLY)
    stats = B.corpus_stats(tok)
    out = {}
    with arrow_batch(spark, 2):
        for positions in (False, True):
            runs = B.spimi_runs(tok, 2, max_run_postings=40, positions=positions).cache()
            runs.count()
            out[positions] = runs
    yield out, stats
    for runs in out.values():
        runs.unpersist()
    tok.unpersist()


@pytest.mark.parametrize("positions", [False, True])
def test_build_merge_rows_independent_of_arrow_batch(spark, many_runs, positions):
    runs_by_layout, stats = many_runs
    runs = runs_by_layout[positions]
    groups = (
        runs.withColumn("part", F.spark_partition_id())
        .groupBy("shard", "term")
        .agg(F.countDistinct("part").alias("parts"), F.count(F.lit(1)).alias("n"))
    )
    assert groups.where("parts >= 3").count() > 0  # a term's runs from 3+ partitions
    assert groups.where("n > 7").count() > 0  # a group longer than one batch of 7
    ts = B.term_stats_from_runs(runs, stats["n_docs"])
    cols = SEG_COLS if positions else SEG_COLS[:-1]

    def merged(batch):
        with arrow_batch(spark, batch):
            seg = B.merge_runs_to_segments(runs, ts, stats["avgdl"], positions=positions)
            return _rows(seg, cols, ["shard", "term", "block_id"])

    want = merged(None)
    assert want and merged(1) == want and merged(7) == want


# ------------------------------------------------------------ plan guard
def _unwrap(node):
    """Skip the AQE and codegen wrappers around a physical operator."""
    while True:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        elif name.endswith("QueryStageExec"):
            node = node.plan()
        elif name in ("WholeStageCodegenExec", "InputAdapter", "AQEShuffleReadExec"):
            node = node.child()
        else:
            return node


def python_nodes(df) -> tuple[list[str], int]:
    """Collect ``df``; return the Python node names of its executed plan
    and how many MapInPandas nodes read a (shard, term, ...) sort over a
    hash exchange on exactly (shard, term)."""
    df.collect()
    names, walkers = [], 0

    def is_walker_input(node) -> bool:
        sort = _unwrap(node)
        if sort.getClass().getSimpleName() != "SortExec":
            return False
        order = re.findall(r"(\w+)#\d+", sort.sortOrder().toString())
        ex = _unwrap(sort.child())
        return (
            order[:2] == ["shard", "term"]
            and ex.getClass().getSimpleName() == "ShuffleExchangeExec"
            and re.fullmatch(r"hashpartitioning\(shard#\d+, term#\d+, \d+\)",
                             ex.outputPartitioning().toString()) is not None
        )

    def walk(node) -> None:
        nonlocal walkers
        node = _unwrap(node)
        name = node.getClass().getSimpleName()
        if "InPandas" in name:
            names.append(name)
            if name == "MapInPandasExec" and is_walker_input(node.child()):
                walkers += 1
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return names, walkers


@pytest.fixture
def written_segments(monkeypatch):
    """Every frame handed to SegmentStore.write_segments while the test runs."""
    seen = []
    orig = SegmentStore.write_segments

    def spy(self, df, physical=None):
        seen.append(df)
        return orig(self, df, physical)

    monkeypatch.setattr(SegmentStore, "write_segments", spy)
    return seen


def test_merge_plan_is_one_walker(spark, many_runs):
    runs_by_layout, stats = many_runs
    runs = runs_by_layout[True]
    seg = B.merge_runs_to_segments(
        runs, B.term_stats_from_runs(runs, stats["n_docs"]), stats["avgdl"], positions=True
    )
    names, walkers = python_nodes(seg)
    assert "FlatMapGroupsInPandasExec" not in names and walkers == 1, names


def test_compact_and_reindex_plans_are_one_walker(spark, chain, written_segments, tmp_path):
    shutil.copytree(chain[0], str(tmp_path / "c"))
    compact(spark, str(tmp_path / "c"))
    reindex(spark, chain[0], str(tmp_path / "r"), n_shards=2)
    assert len(written_segments) == 2
    for df in written_segments:
        names, walkers = python_nodes(df)
        assert "FlatMapGroupsInPandasExec" not in names and walkers == 1, names


# -------------------------------------------------------- pre-split check
def test_presplit_check_runs_no_job_on_a_shuffled_source(spark):
    shuffled = webtext_docs(
        spark.createDataFrame(gen_webtext(40, seed=2), schema=WEBTEXT_SCHEMA)
    )
    n = []
    assert count_jobs(spark, lambda: n.append(B.input_partitions(shuffled))) == 0
    assert n[0] == shuffled.rdd.getNumPartitions()  # the old check, which runs a job
    scan = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert count_jobs(spark, lambda: n.append(B.input_partitions(scan))) == 0
    assert n[1] == scan.rdd.getNumPartitions()

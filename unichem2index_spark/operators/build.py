"""Distributed inverted-index build (the reference's extract->index half,
re-expressed Spark-first).

Reference lifecycle (SURVEY.md §3.1): range-partitioned scan -> streaming
group-by -> bulk upserts into Elasticsearch. Ours:

    read parquet/Iceberg
      -> tokenize (JVM regexp, whole-stage codegen; Arrow UDF variant avail)
      -> SPIMI posting runs per input partition        (mapInPandas)
      -> skew-aware shuffle on (shard, term)           (doc-sharded: a heavy
         term like "the" splits across all shards — the salt IS the doc
         shard, so no single reducer ever sees a full stopword posting list)
      -> k-way sorted merge of runs into varbyte block-max blocks, one
         streaming pass over (shard, term)-sorted runs  (mapInPandas)
      -> segments + term_stats + docs + stats + lineage (SegmentStore)

Resumable (T1, extractor/init.go:128-151 analog): lineage rows mark done
shards; a restart skips them and dynamic partition overwrite keeps shard
rebuilds idempotent (doc_as_upsert analog, extractor/loader.go:186).
"""

from __future__ import annotations

import heapq
import threading
import time
from collections import Counter
from dataclasses import dataclass
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unichem2index_spark.functions import bm25
from unichem2index_spark.functions.codec import (
    BLOCK_SIZE,
    PostingBlock,
    chunk_postings,
    decode_positions,
    encode_positions,
    vb_decode,
    vb_encode,
    delta_encode,
    delta_decode,
)
from unichem2index_spark.functions.tokenize import tokens_col
from unichem2index_spark.schemas import (
    POS_SEGMENT_SCHEMA,
    RUN_SCHEMA,
    SEGMENT_SCHEMA,
)
from unichem2index_spark.sources.tables import SegmentStore

# Max buffered postings per SPIMI run before a flush — bounds executor
# memory per task regardless of corpus size (the SPIMI invariant).
MAX_RUN_POSTINGS = 2_000_000


# --------------------------------------------------------------------------
# Stage 0: tokenization + forward/doc tables (exact, JVM-side)
# --------------------------------------------------------------------------
def tokenized_docs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """doc_id, tokens, doclen (+ passthrough lang/source/url/warc_ts when
    present). url/warc_ts ride along so aux tables (url_map) can derive
    from the ONE tokenized persist instead of re-materializing the whole
    ingest (extract + shuffle + dedup) a second time — they add ~20% to
    the persist bytes and save a full corpus pass."""
    keep = [c for c in ("lang", "source", "url", "warc_ts") if c in df.columns]
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens_col(text_col).alias("tokens"),
        *keep,
    ).withColumn("doclen", F.size("tokens").cast("long"))


def docs_table(tok: DataFrame) -> DataFrame:
    keep = [c for c in ("lang", "source") if c in tok.columns]
    return tok.select("doc_id", "doclen", *keep)


def exact_postings(tok: DataFrame) -> DataFrame:
    """Uncompressed postings via plain DataFrame ops (correctness spine;
    replaces the reference's sort-based streaming group-by A1 with Spark's
    order-free hash aggregation — SURVEY.md §2.4)."""
    return (
        tok.select("doc_id", "doclen", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id", "doclen")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "doc_id", "tf", "doclen")
    )


def corpus_stats(tok: DataFrame) -> dict:
    """N/avgdl/total_tokens/vocab. avgdl is computed as exact integer sum
    divided once, so every engine (Spark, DuckDB, Python oracle) gets the
    bit-identical double."""
    row = tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doclen").alias("total_tokens"),
        F.max("doc_id").alias("max_doc_id"),
    ).collect()[0]
    n_docs, total = row.n_docs, row.total_tokens or 0
    return {
        "n_docs": int(n_docs),
        "total_tokens": int(total),
        "avgdl": (float(total) / float(n_docs)) if n_docs else 0.0,
        "max_doc_id": int(row.max_doc_id) if row.max_doc_id is not None else -1,
    }


def idf_col(n_docs: int | F.Column) -> F.Column:
    """Shared idf expression. Deliberately log(1+x), NOT log1p: every
    engine (Spark, DuckDB ln(1+x), Python math.log(1+x)) evaluates the
    same floating-point expression tree. ``n_docs`` is a driver-side
    count or a double column (an in-plan aggregate)."""
    n = n_docs if isinstance(n_docs, F.Column) else F.lit(float(n_docs))
    return F.log(
        F.lit(1.0)
        + (n - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )


def term_stats_from_runs(runs: DataFrame, n_docs: int) -> DataFrame:
    """term, df, cf, idf — aggregated from SPIMI runs (each doc appears in
    exactly one run per term, so sum(n_docs) == df). Valid only when the
    runs cover the FULL corpus."""
    return (
        runs.groupBy("term")
        .agg(F.sum("n_docs").alias("df"), F.sum("cf").alias("cf"))
        .withColumn("idf", idf_col(n_docs))
    )


def term_stats_from_corpus(tok: DataFrame, n_docs: int) -> DataFrame:
    """Corpus-global term stats straight from tokenized docs (used when a
    build starts with a shard subset — df/idf must never be partial)."""
    return (
        exact_postings(tok)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
        .withColumn("idf", idf_col(n_docs))
    )


# --------------------------------------------------------------------------
# Stage 1: SPIMI posting runs (mapInPandas over input partitions)
# --------------------------------------------------------------------------
RUN_WITH_CF_SCHEMA = T.StructType(
    list(RUN_SCHEMA.fields) + [T.StructField("cf", T.LongType(), False)]
)
RUN_POS_WITH_CF_SCHEMA = T.StructType(
    list(RUN_WITH_CF_SCHEMA.fields)
    + [T.StructField("positions", T.BinaryType(), False)]
)


def _spimi_partition(
    batches: Iterator[pd.DataFrame],
    n_shards: int,
    max_run_postings: int,
    with_positions: bool = False,
) -> Iterator[pd.DataFrame]:
    """Build in-memory per-shard term dictionaries for one input partition,
    flushing bounded sorted runs (SPIMI). Emits RUN_WITH_CF_SCHEMA rows
    (+ a per-run ``positions`` blob when ``with_positions`` — memory
    accounting then counts every occurrence, not every posting, so the
    SPIMI bound still holds)."""
    # acc[(shard, term)] -> [(doc_id, tf, dl[, positions]), ...]
    acc: dict[tuple[int, str], list[tuple]] = {}
    pending = 0
    cols = ["shard", "term", "run_id", "n_docs", "doc_gaps", "tfs", "dls", "cf"]
    if with_positions:
        cols = cols + ["positions"]

    def flush() -> pd.DataFrame:
        nonlocal acc, pending
        rows = []
        for (shard, term), posts in acc.items():
            posts.sort(key=lambda p: p[0])
            ids = [p[0] for p in posts]
            tfs = [p[1] for p in posts]
            dls = [p[2] for p in posts]
            row = {
                "shard": shard,
                "term": term,
                "run_id": ids[0],  # unique: doc sets are disjoint
                "n_docs": len(ids),
                "doc_gaps": vb_encode(delta_encode(ids)),
                "tfs": vb_encode(tfs),
                "dls": vb_encode(dls),
                "cf": int(sum(tfs)),
            }
            if with_positions:
                row["positions"] = encode_positions([p[3] for p in posts])
            rows.append(row)
        acc = {}
        pending = 0
        return pd.DataFrame(rows, columns=cols)

    for pdf in batches:
        for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
            toks = list(tokens) if tokens is not None else []
            dl = len(toks)
            shard = int(doc_id) % n_shards
            if with_positions:
                occ: dict[str, list[int]] = {}
                for i, term in enumerate(toks):
                    occ.setdefault(term, []).append(i)
                for term, plist in occ.items():
                    acc.setdefault((shard, term), []).append(
                        (int(doc_id), len(plist), dl, plist)
                    )
                    pending += len(plist)
            else:
                for term, tf in Counter(toks).items():
                    acc.setdefault((shard, term), []).append(
                        (int(doc_id), tf, dl)
                    )
                    pending += 1
        if pending >= max_run_postings:
            yield flush()
    if acc:
        yield flush()


def spimi_runs(
    tok: DataFrame,
    n_shards: int,
    max_run_postings: int = MAX_RUN_POSTINGS,
    positions: bool = False,
) -> DataFrame:
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _spimi_partition(batches, n_shards, max_run_postings, positions)

    schema = RUN_POS_WITH_CF_SCHEMA if positions else RUN_WITH_CF_SCHEMA
    return tok.select("doc_id", "tokens").mapInPandas(fn, schema)


# --------------------------------------------------------------------------
# Stage 2: k-way sorted merge into block-max segments (one mapInPandas
# pass over (shard, term)-sorted rows)
# --------------------------------------------------------------------------
def encode_segment_rows(
    shard: int,
    term: str,
    idf_t: float,
    ids: list[int],
    tfs: list[int],
    dls: list[int],
    avgdl: float,
    block_size: int,
    gen: int,
    pos_lists: list[list[int]] | None = None,
) -> list[dict]:
    """Chunk one (shard, term)'s doc-sorted postings into encoded
    block-max segment rows (shared by build merge and compaction).
    ``pos_lists`` (parallel to ``ids``) adds the positional blob."""
    out = []
    for block_id, blk in enumerate(chunk_postings(ids, tfs, dls, block_size)):
        gaps_b, tfs_b, dls_b = blk.encode()
        bms = max(
            bm25.score_term(tf, dl, avgdl, idf_t)
            for tf, dl in zip(blk.tfs, blk.dls)
        )
        row = {
            "gen": gen,
            "shard": shard,
            "term": term,
            "block_id": block_id,
            "n_docs": len(blk.doc_ids),
            "max_doc_id": blk.doc_ids[-1],
            "doc_gaps": gaps_b,
            "tfs": tfs_b,
            "dls": dls_b,
            "block_max_tf": int(max(blk.tfs)),
            "block_min_dl": int(min(blk.dls)),
            "block_max_score": bms,
        }
        if pos_lists is not None:
            lo = block_id * block_size
            row["positions"] = encode_positions(
                pos_lists[lo : lo + block_size]
            )
        out.append(row)
    return out


GroupBody = Callable[[dict[str, list]], list[dict]]


def _term_group_batches(
    batches: Iterator[pd.DataFrame], body: GroupBody, out_cols: list[str]
) -> Iterator[pd.DataFrame]:
    """Walk one partition's (shard, term)-sorted rows group by group.

    ``body`` gets one group as column -> list of values and returns its
    output rows. A group cut by an Arrow batch boundary is carried, as
    column slices, until its last row arrives, so a task holds one group
    plus one batch. Yields one frame per input batch."""
    carry: list[dict[str, list]] = []  # slices of the open group

    def close() -> list[dict]:
        g = {c: [v for part in carry for v in part[c]] for c in carry[0]}
        carry.clear()
        return body(g)

    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        cols = {c: pdf[c].tolist() for c in pdf.columns}
        shard, term = pdf["shard"].to_numpy(), pdf["term"].to_numpy()
        cuts = np.flatnonzero((shard[1:] != shard[:-1]) | (term[1:] != term[:-1]))
        bounds = [0, *(cuts + 1).tolist(), n]
        rows: list[dict] = []
        if carry and (carry[0]["shard"][0], carry[0]["term"][0]) != (
            cols["shard"][0], cols["term"][0]
        ):
            rows += close()
        for lo, hi in zip(bounds, bounds[1:]):
            carry.append({c: v[lo:hi] for c, v in cols.items()})
            if hi < n:  # the batch's last group may go on in the next one
                rows += close()
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)
    if carry:
        yield pd.DataFrame(close(), columns=out_cols)


def map_term_groups(
    df: DataFrame, body: GroupBody, schema: T.StructType, order: tuple[str, ...] = ()
) -> DataFrame:
    """Apply ``body`` to every (shard, term) group of ``df`` in one
    mapInPandas pass over rows hash-partitioned on (shard, term) and
    sorted on (shard, term, *order): one Python call per Arrow batch, not
    a pandas frame in and out per group (which cost more than the merge)."""
    out_cols = [f.name for f in schema.fields]
    return (
        df.repartition("shard", "term")
        .sortWithinPartitions("shard", "term", *order)
        .mapInPandas(lambda it: _term_group_batches(it, body, out_cols), schema)
    )


def _merged_blocks(
    g: dict[str, list], avgdl: float, block_size: int, gen: int, with_positions: bool
) -> list[dict]:
    """Merge one (shard, term)'s sorted runs into final encoded blocks."""
    runs = []
    for i, (gaps, tfs, dls) in enumerate(zip(g["doc_gaps"], g["tfs"], g["dls"])):
        blk = PostingBlock.decode(bytes(gaps), bytes(tfs), bytes(dls))
        cols = [blk.doc_ids, blk.tfs, blk.dls]
        if with_positions:
            cols.append(decode_positions(bytes(g["positions"][i]), blk.tfs))
        runs.append(list(zip(*cols)))
    merged = heapq.merge(*runs, key=lambda p: p[0])  # k-way by doc_id
    ids, tfs, dls, *pos = map(list, zip(*merged))
    return encode_segment_rows(
        g["shard"][0], g["term"][0], g["idf"][0], ids, tfs, dls, avgdl,
        block_size, gen, pos_lists=pos[0] if with_positions else None,
    )


def merge_runs_to_segments(
    runs: DataFrame,
    term_stats: DataFrame,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
    gen: int = 0,
    positions: bool = False,
) -> DataFrame:
    """Per-(shard, term) k-way merge. The (shard, term) key is the
    skew-aware shuffle: per-group size is bounded by shard size, never by a
    term's global df — 'the' with df≈N still splits into n_shards groups.

    Partitioning note: the repartition carries no partition count, so
    AQE sizes the merge's tasks by shuffle bytes (a fixed count measured
    ~20% slower at 8M docs on 4×2-core executors)."""
    enriched = runs.join(term_stats.select("term", "idf"), "term")
    return map_term_groups(
        enriched,
        lambda g: _merged_blocks(g, avgdl, block_size, gen, positions),
        POS_SEGMENT_SCHEMA if positions else SEGMENT_SCHEMA,
    )


# --------------------------------------------------------------------------
# Orchestration: full/partial build with lineage + resume
# --------------------------------------------------------------------------
class _BgJob:
    """Run a Spark action on a driver thread so it overlaps later jobs.

    A SparkContext accepts concurrent job submission from multiple driver
    threads; with FIFO scheduling the overlapped job's tasks fill executor
    slots whenever the foreground stage can't saturate them. Used for
    auxiliary table writes (docs, url_map) whose inputs are ALREADY
    materialized persists — no recompute race — so the only ordering that
    matters is join() before the artifact that must land after them.
    """

    def __init__(self, fn: Callable[[], None], name: str):
        self._exc: BaseException | None = None

        def run() -> None:
            try:
                fn()
            except BaseException as e:  # re-raised on join
                self._exc = e

        self._t = threading.Thread(target=run, name=name, daemon=True)
        self._t.start()

    def join(self) -> None:
        self._t.join()
        if self._exc is not None:
            raise self._exc


def input_partitions(df: DataFrame) -> int:
    """Partitions ``df`` is planned with, read without running a job.

    A shuffled source's count is its physical plan's output partitioning
    (before AQE coalesces it; ``df.rdd`` would run the shuffle's map stage
    to learn the coalesced count). A plain scan plans 0 there, and its RDD
    plans its splits without a job."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.outputPartitioning().numPartitions() or df.rdd.getNumPartitions()


@dataclass
class BuildResult:
    store: SegmentStore
    n_docs: int
    avgdl: float
    built_shards: list[int]
    elapsed_sec: float


def build_index(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    block_size: int = BLOCK_SIZE,
    id_col: str = "doc_id",
    text_col: str = "text",
    resume: bool = False,
    shard_filter: Iterable[int] | None = None,
    build_id: str = "build",
    aux_writes: Iterable[Callable[[DataFrame], None]] | None = None,
    positions: bool = False,
) -> BuildResult:
    """End-to-end index build.

    ``shard_filter`` limits the build to a shard subset (used by tests to
    simulate a mid-build failure); ``resume=True`` skips shards already
    marked done in lineage — together they reproduce the reference's
    watermark-resume contract (T1).

    ``positions=True`` builds a POSITIONAL index (per-posting token
    positions as one extra varbyte blob per block — the Lucene
    postings-with-positions analog), enabling :func:`phrase_topk`;
    recorded in the manifest so updates/compaction preserve it.

    ``aux_writes``: caller-supplied Spark actions (e.g. the url_map write)
    run on driver threads overlapping the merge phase and joined before
    the manifest commit — they stay inside the build's crash envelope
    (manifest last) without serializing the pipeline. Each callable
    receives the PERSISTED tokenized corpus (doc_id, tokens, doclen +
    passthrough lang/source/url/warc_ts) — deriving aux tables from that
    persist is what keeps the ingest single-materialization.
    """
    t0 = time.time()
    store = SegmentStore(out_dir)

    target = set(range(n_shards))
    if shard_filter is not None:
        target &= set(shard_filter)
    if resume:
        target -= store.done_shards(spark)
    target_shards = sorted(target)
    if not target_shards:
        mf = store.read_manifest()
        return BuildResult(store, mf["n_docs"], mf["avgdl"], [], 0.0)

    partial = len(target_shards) < n_shards
    # When frozen full-corpus artifacts already exist (a resumed or
    # shard-subset rebuild), push the shard predicate ABOVE tokenization:
    # it only needs doc_id, so non-target rows are never tokenized (or
    # extracted) at all — a partial rebuild reads only its shards' docs.
    have_frozen = (
        partial
        and store.exists()  # manifest
        and store.exists("term_stats")
        and store.exists("docs")
    )
    if have_frozen:
        source = source.where(
            (F.col(id_col) % n_shards).isin(target_shards)
        )
    # Small inputs (one parquet file / few splits) would tokenize and
    # SPIMI on a single core: spread them round-robin across the cluster
    # BEFORE the tokens projection so the Python map stage parallelizes.
    # Scale-adaptive no-op when the scan already has >= cores splits; the
    # shuffle moves raw text once (deterministic — Spark sorts before a
    # round-robin repartition). Output is partition-invariant by design
    # (runs k-way-merge to the same postings; W1 pytest).
    sc = spark.sparkContext
    if input_partitions(source) < sc.defaultParallelism:
        source = source.repartition(sc.defaultParallelism)
    tok = tokenized_docs(source, id_col=id_col, text_col=text_col)

    # Persist BEFORE the stats pass: tokenization (and everything upstream —
    # extraction, the doc-id shuffle) materializes exactly once; the 4-5
    # downstream jobs (runs, docs, lineage, url_map) read it back. DISK_ONLY
    # deliberately: the token arrays explode into tens of millions of small
    # JVM objects as an in-memory columnar cache — building that under 32
    # concurrent tasks is GC-bound (measured 9x slower than the disk write),
    # while local-disk re-reads are sub-second.
    from pyspark import StorageLevel

    tok = tok.persist(StorageLevel.DISK_ONLY)

    # Corpus-level stats always reflect the FULL corpus (scores must not
    # depend on which shards were rebuilt when): frozen manifest stats when
    # available, else computed from the (full) tokenized corpus.
    if have_frozen:
        mf_prev = store.read_manifest()
        # a resumed/partial rebuild must match the frozen index's layout
        positions = bool(mf_prev.get("positions", positions))
        stats = {
            "n_docs": mf_prev["n_docs"],
            "avgdl": mf_prev["avgdl"],
            "total_tokens": mf_prev["total_tokens"],
            "max_doc_id": mf_prev["next_doc_id"] - 1,
        }
    else:
        stats = corpus_stats(tok)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]

    if n_docs == 0:
        # Degenerate empty corpus: write schema-bearing empty artifacts so
        # the index opens and queries return empty instead of crashing.
        from unichem2index_spark.schemas import (
            DOCS_SCHEMA,
            LINEAGE_SCHEMA,
            SEGMENT_SCHEMA,
            TERM_STATS_SCHEMA,
        )

        empty_seg = spark.createDataFrame(
            [], POS_SEGMENT_SCHEMA if positions else SEGMENT_SCHEMA
        ).repartition(1)
        empty_seg.write.mode("overwrite").parquet(store.path("segments"))
        store.write_table(
            spark.createDataFrame([], TERM_STATS_SCHEMA).repartition(1),
            "term_stats",
        )
        empty_docs_schema = T.StructType(
            list(DOCS_SCHEMA.fields) + [T.StructField("gen", T.IntegerType(), False)]
        )
        store.write_table(
            spark.createDataFrame([], empty_docs_schema).repartition(1), "docs"
        )
        store.write_table(
            spark.createDataFrame([], LINEAGE_SCHEMA).repartition(1), "lineage"
        )
        store.write_manifest(
            {
                "n_docs": 0,
                "avgdl": 0.0,
                "total_tokens": 0,
                "n_shards": n_shards,
                "block_size": block_size,
                "format": "parquet-v3",
                "next_doc_id": 0,
                "generations": [0],
                "tables": {},
                "positions": positions,
            }
        )
        return BuildResult(store, 0, 0.0, target_shards, time.time() - t0)

    full_tok = tok
    if partial and not have_frozen:
        # First partial build (no frozen artifacts yet): the full corpus
        # was tokenized for stats; narrow to the target shards here.
        tok = tok.where((F.col("doc_id") % n_shards).isin(target_shards))

    # Forward docs table always covers the FULL corpus — it must land
    # BEFORE segments so a mid-build crash leaves the frozen stats a
    # resumed build needs (gen-partitioned; incremental updates add
    # generations). The write itself overlaps the SPIMI jobs on a driver
    # thread: its input (the tok persist) was fully materialized by the
    # corpus_stats pass above, and the join() below restores the ordering
    # guarantee at the cheapest point — a serial docs write is a
    # whole-pipeline barrier a 1000-executor cluster would idle through.
    docs_job: _BgJob | None = None
    if not store.exists("docs"):
        docs_job = _BgJob(
            lambda: store.write_gen_partition(
                docs_table(full_tok).withColumn("gen", F.lit(0)), "docs"
            ),
            "u2i-docs-write",
        )

    runs = spimi_runs(tok, n_shards, positions=positions).cache()
    # df/idf must be corpus-GLOBAL, whatever shard subset this build
    # touches: reuse frozen stats if present, else compute from the full
    # corpus (from runs when they cover it — cheaper, same result).
    # The fresh-stats plan is PERSISTED, materialized by one cheap
    # count() action (which also materializes the runs cache through a
    # single SPIMI pass), and joined into the merge as an in-memory
    # broadcast; the parquet write happens on a driver thread AFTER the
    # segments land (input then fully materialized, honoring the _BgJob
    # contract), overlapping the lineage job and joined before the
    # manifest commit. This keeps the old serial chain's single-compute
    # property — WITHOUT the eager count, AQE materializes the merge
    # join's two child stages (runs exchange, stats agg) concurrently
    # and each computes the uncached SPIMI partitions independently:
    # measured +8-11% on the 4x2-core level, invisible at local[32]
    # where idle cores absorb the duplicate work. What's removed from
    # the critical path vs r2 is the term_stats parquet write +
    # read-back. Crash envelope unchanged: no lineage rows -> full
    # rebuild either way.
    ts_persisted: DataFrame | None = None
    if store.exists("term_stats"):
        tstats = store.read(spark, "term_stats")
    else:
        tstats = (
            term_stats_from_runs(runs, n_docs)
            if not partial
            else term_stats_from_corpus(full_tok, n_docs)
        ).persist()
        ts_persisted = tstats
        tstats.count()  # one materializing pass: SPIMI -> cache -> agg

    # Aux writes (url_map, ...) only need to land before the manifest
    # commit; start them now so they overlap the merge. Their input is
    # the materialized tok persist (the _BgJob no-recompute contract).
    aux_jobs = [
        _BgJob(lambda fn=fn: fn(full_tok), f"u2i-aux-write-{i}")
        for i, fn in enumerate(aux_writes or [])
    ]

    if docs_job is not None:
        docs_job.join()  # docs-before-segments crash invariant
    segments = merge_runs_to_segments(
        runs, tstats, avgdl, block_size, positions=positions
    )
    store.write_segments(segments)

    ts_job: _BgJob | None = None
    if ts_persisted is not None:
        ts_job = _BgJob(
            lambda: store.write_table(ts_persisted, "term_stats", max_files=8),
            "u2i-term-stats-write",
        )

    # Lineage/metrics per shard, written AFTER segments land (atomic-last,
    # SURVEY.md §7 hard-point 5).
    seg_read = store.read(spark, "segments").where(
        F.col("shard").isin(target_shards)
    )
    lineage = (
        seg_read.groupBy("shard")
        .agg(
            F.sum("n_docs").alias("postings"),
            F.count(F.lit(1)).alias("blocks"),
            F.sum(
                F.length("doc_gaps") + F.length("tfs") + F.length("dls")
            ).alias("bytes"),
        )
        .withColumn("build_id", F.lit(build_id))
        .withColumn("status", F.lit("done"))
        .withColumn("elapsed_sec", F.lit(time.time() - t0))
    )
    docs_per_shard = (
        tok.groupBy((F.col("doc_id") % n_shards).cast("int").alias("shard"))
        .agg(F.count(F.lit(1)).alias("docs"))
    )
    lineage = lineage.join(docs_per_shard, "shard", "left").select(
        "shard", "build_id", "status",
        F.coalesce("docs", F.lit(0)).alias("docs"),
        "postings", "blocks", "bytes", "elapsed_sec",
    )
    store.append_lineage(lineage)

    for j in aux_jobs:
        j.join()  # aux tables land before the manifest commit point
    if ts_job is not None:
        ts_job.join()  # term_stats on disk before the commit names it

    prev_tables = (
        store.read_manifest().get("tables", {}) if store.exists() else {}
    )
    store.write_manifest(
        {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "total_tokens": stats["total_tokens"],
            "n_shards": n_shards,
            "block_size": block_size,
            "format": "parquet-v3",
            "next_doc_id": stats["max_doc_id"] + 1,
            "generations": [0],
            "tables": prev_tables,
            "positions": positions,
        }
    )
    full_tok.unpersist()
    runs.unpersist()
    if ts_persisted is not None:
        ts_persisted.unpersist()
    return BuildResult(store, n_docs, avgdl, target_shards, time.time() - t0)

"""Incremental index maintenance: generation appends + compaction.

The reference's update mode (`-u`, main.go:112-115) re-extracts a key window
and re-upserts into ES; Lucene underneath turns that into new segments plus
tombstones on the replaced docs, folded together by background merges. This
module implements that contract natively:

* :func:`add_generation` — index a new webtext batch as segment generation
  g+1. Replaced urls (doc_as_upsert analog, extractor/loader.go:186) get
  their OLD doc_id tombstoned in ``deletes`` and a NEW doc_id in the new
  generation. Corpus stats (N, avgdl, df/idf) are updated to cover every
  posting physically in the index — including tombstoned docs, exactly like
  Lucene's BM25 stats before a merge — so scoring is well-defined and
  reproducible at any point between compactions.
* :func:`compact` — fold all generations into gen 0: decode postings to
  rows, anti-join the tombstones executor-side, re-chunk, recompute stats
  over live docs only. After compaction, scores equal a fresh build over
  the live corpus (same doc_ids — compaction never renumbers).

Crash-safety (the SegmentStore commit protocol):

* every table an update touches is either written as THIS generation's
  partitions (segments/docs/url_map/deletes — invisible to readers until
  the manifest names the generation, and idempotent to retry via dynamic
  partition overwrite) or staged as a fresh version path (term_stats)
  that the manifest flips atomically;
* compaction stages segments/term_stats/docs/url_map as new versions and
  promotes ALL of them in the single manifest write, so no reader ever
  sees gen-0 blocks scored under stats the manifest doesn't match.

Scale notes: each stage is the same shuffle shape as the base build
(mapInPandas decode → one streaming mapInPandas re-chunk over rows
hash-partitioned and sorted on (shard, term), build.map_term_groups); the
tombstones are a DataFrame anti-join / per-shard cogroup — never a
driver-side collect. Generations are separate parquet partitions
(``gen=<g>/shard=<s>``) so queries prune by term within every generation
independently and a generation append never rewrites existing files —
object-store friendly.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unichem2index_spark.functions.codec import PostingBlock, decode_positions
from unichem2index_spark.operators.build import (
    docs_table,
    encode_segment_rows,
    idf_col,
    map_term_groups,
    merge_runs_to_segments,
    spimi_runs,
    tokenized_docs,
)
from unichem2index_spark.operators.ingest import (
    dedup_and_assign_doc_ids,
    extracted_webtext,
)
from unichem2index_spark.schemas import POS_SEGMENT_SCHEMA, SEGMENT_SCHEMA
from unichem2index_spark.sources.tables import SegmentStore


@dataclass
class UpdateResult:
    store: SegmentStore
    gen: int
    n_new_docs: int
    n_replaced: int
    elapsed_sec: float


def _committed_deletes(
    spark: SparkSession, store: SegmentStore, gens: list[int]
) -> DataFrame | None:
    """doc_ids tombstoned by a COMMITTED generation (None if no deletes)."""
    if not store.exists("deletes"):
        return None
    return store.read_committed(spark, "deletes", gens).select("doc_id")


URL_MAP_DDL = (
    "doc_id long, url string, warc_ts timestamp, lang string, "
    "source string, gen int"
)


def _live_url_map(
    spark: SparkSession, store: SegmentStore, gens: list[int]
) -> DataFrame:
    """url -> live doc_id over committed generations only. An index with
    no url_map table (e.g. built straight from a documents table) has no
    live urls — empty, never PATH_NOT_FOUND."""
    if not store.exists("url_map"):
        return spark.createDataFrame([], URL_MAP_DDL)
    um = store.read_committed(spark, "url_map", gens)
    dele = _committed_deletes(spark, store, gens)
    if dele is not None:
        um = um.join(dele, "doc_id", "left_anti")
    return um


def add_generation(
    spark: SparkSession,
    index_dir: str,
    new_webtext: DataFrame,
    build_id: str = "update",
) -> UpdateResult:
    t0 = time.time()
    store = SegmentStore(index_dir)
    mf = store.read_manifest()
    n_shards, block_size = mf["n_shards"], mf["block_size"]
    positions = bool(mf.get("positions", False))  # preserve index layout
    committed = mf.get("generations", [0])
    gen = max(committed) + 1
    next_id = mf["next_doc_id"]
    empty_base = mf["n_docs"] == 0

    with_ids = dedup_and_assign_doc_ids(
        extracted_webtext(new_webtext), key="url", ts_col="warc_ts"
    ).withColumn("doc_id", F.col("doc_id") + F.lit(next_id))
    new_docs = with_ids.select(
        "doc_id",
        "url",
        "warc_ts",
        "text",
        "lang",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("source"),
    ).persist()
    tok = runs = None
    try:
        tok = tokenized_docs(new_docs).persist()
        batch = tok.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doclen").alias("tt"),
            F.max("doc_id").alias("mx"),
        ).collect()[0]
        n_new, new_tokens = int(batch.n), int(batch.tt or 0)
        if n_new == 0:
            # Nothing was written yet — an empty batch leaves the index
            # (including an empty one's placeholder tables) fully intact.
            return UpdateResult(store, gen, 0, 0, time.time() - t0)

        retired: list[str] = []
        tables = dict(mf.get("tables", {}))
        if empty_base and not store.native_atomic:
            # Degenerate empty index: the schema-bearing empty
            # placeholders (plain parquet, no partition dirs) cannot host
            # the gen-partitioned layout this path writes. Re-point each
            # at a fresh version path instead of deleting in place — a
            # crash before the commit leaves the old manifest pointing at
            # intact placeholders; the commit flips the pointers
            # atomically and retires the placeholders under the
            # retention window. An empty index has no live urls, so the
            # replaced-tombstone step is skipped entirely.
            for name in ("segments", "docs", "url_map"):
                old_phys = store._resolve(name)
                tables[name] = store.next_version(old_phys, name)
                retired.append(old_phys)
            n_replaced = 0
        elif empty_base:
            n_replaced = 0  # native-atomic backend: writes handle it
        else:
            # Tombstone live docs whose url is being replaced
            # (doc_as_upsert). Reads are gen-gated to COMMITTED
            # generations, so this stays stable however late it
            # evaluates; the write lands in this generation's partition
            # (invisible until the commit below, and a retry overwrites
            # it).
            replaced = (
                _live_url_map(spark, store, committed)
                .join(
                    new_docs.select(F.col("url").alias("u")),
                    F.col("url") == F.col("u"),
                    "left_semi",
                )
                .select("doc_id")
                .withColumn("gen", F.lit(gen))
            )
            n_replaced = int(replaced.count())
            if n_replaced:
                store.write_gen_partition(replaced, "deletes")
            # n_replaced == 0: skip the write entirely — a zero-row
            # partitioned write leaves a schema-less directory that poisons
            # later reads, and never creating `deletes` keeps every future
            # query on the cogroup-free fast path.

        # Index-wide stats: every posting physically present counts
        # (tombstoned docs included until compaction — the Lucene
        # pre-merge contract).
        n_total = mf["n_docs"] + n_new
        total_tokens = mf["total_tokens"] + new_tokens
        avgdl = float(total_tokens) / float(n_total)

        runs = spimi_runs(tok, n_shards, positions=positions).persist()
        delta_stats = runs.groupBy("term").agg(
            F.sum("n_docs").alias("df_d"), F.sum("cf").alias("cf_d")
        )
        old_stats = store.read(spark, "term_stats").select("term", "df", "cf")
        combined = (
            old_stats.join(delta_stats, "term", "full_outer")
            .select(
                "term",
                (F.coalesce("df", F.lit(0)) + F.coalesce("df_d", F.lit(0))).alias("df"),
                (F.coalesce("cf", F.lit(0)) + F.coalesce("cf_d", F.lit(0))).alias("cf"),
            )
            .withColumn("idf", idf_col(n_total))
        )
        # Stage the new stats as the next version; the manifest write at
        # the end flips the pointer atomically.
        old_ts_phys = store._resolve("term_stats")
        ts_phys = store.stage_table(combined, "term_stats", max_files=8)
        tstats = spark.read.parquet(store.path(ts_phys))

        segments = merge_runs_to_segments(
            runs, tstats, avgdl, block_size, gen=gen, positions=positions
        )
        seg_phys = store.write_segments(segments, physical=tables.get("segments"))

        store.write_gen_partition(
            docs_table(tok).withColumn("gen", F.lit(gen)),
            "docs",
            physical=tables.get("docs"),
        )
        store.write_gen_partition(
            new_docs.select("doc_id", "url", "warc_ts", "lang", "source")
            .withColumn("gen", F.lit(gen)),
            "url_map",
            physical=tables.get("url_map"),
        )

        seg_read = spark.read.parquet(store.path(seg_phys)).where(
            F.col("gen") == gen
        ) if not store.native_atomic else store.read(spark, "segments").where(
            F.col("gen") == gen
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
            .withColumn("build_id", F.lit(f"{build_id}-g{gen}"))
            .withColumn("status", F.lit("done"))
            .withColumn("elapsed_sec", F.lit(time.time() - t0))
        )
        docs_per_shard = tok.groupBy(
            (F.col("doc_id") % n_shards).cast("int").alias("shard")
        ).agg(F.count(F.lit(1)).alias("docs"))
        lineage = lineage.join(docs_per_shard, "shard", "left").select(
            "shard", "build_id", "status",
            F.coalesce("docs", F.lit(0)).alias("docs"),
            "postings", "blocks", "bytes", "elapsed_sec",
        )
        store.append_lineage(lineage)

        # COMMIT: one atomic manifest write names the new generation and
        # flips the term_stats (+ any re-pointed placeholder) pointers.
        # A crash anywhere above leaves the old manifest fully valid
        # (new-gen partitions + staged versions are invisible); a retry
        # overwrites them in place. Retired versions are GC'd under the
        # one-commit retention window (open handles survive this update).
        tables["term_stats"] = ts_phys
        if old_ts_phys != ts_phys:
            retired.append(old_ts_phys)
        mf.update(
            {
                "n_docs": n_total,
                "total_tokens": total_tokens,
                "avgdl": avgdl,
                "next_doc_id": int(batch.mx) + 1,
                "generations": sorted(set(committed) | {gen}),
                "tables": tables,
                "format": "parquet-v3",
            }
        )
        store.commit_and_gc(mf, retired)
        return UpdateResult(store, gen, n_new, n_replaced, time.time() - t0)
    finally:
        for df in (tok, runs, new_docs, getattr(with_ids, "_u2i_persisted", None)):
            if df is not None:
                df.unpersist()


# ---------------------------------------------------------------- compact
DECODED_ROWS_SCHEMA = "shard int, term string, doc_id long, tf long, dl long"
DECODED_POS_ROWS_SCHEMA = DECODED_ROWS_SCHEMA + ", positions array<int>"


def _decoded_rows(seg: DataFrame, with_positions: bool) -> DataFrame:
    """Explode encoded segment blocks into (shard, term, doc_id, tf, dl
    [, positions]) rows so tombstone filtering is a plain distributed
    anti-join (positions ride as a per-row int array through Arrow)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sh_o: list[int] = []
            t_o: list[str] = []
            d_o: list[int] = []
            tf_o: list[int] = []
            dl_o: list[int] = []
            p_o: list[list[int]] = []
            pos_col = pdf["positions"] if with_positions else [None] * len(pdf)
            for shard, term, gaps, btfs, bdls, bpos in zip(
                pdf["shard"], pdf["term"], pdf["doc_gaps"], pdf["tfs"],
                pdf["dls"], pos_col,
            ):
                blk = PostingBlock.decode(bytes(gaps), bytes(btfs), bytes(bdls))
                n = len(blk.doc_ids)
                sh_o.extend([int(shard)] * n)
                t_o.extend([str(term)] * n)
                d_o.extend(blk.doc_ids)
                tf_o.extend(blk.tfs)
                dl_o.extend(blk.dls)
                if with_positions:
                    p_o.extend(decode_positions(bytes(bpos), blk.tfs))
            out = {
                "shard": sh_o, "term": t_o, "doc_id": d_o,
                "tf": tf_o, "dl": dl_o,
            }
            if with_positions:
                out["positions"] = p_o
            yield pd.DataFrame(out)

    cols = ["shard", "term", "doc_gaps", "tfs", "dls"] + (
        ["positions"] if with_positions else []
    )
    return seg.select(*cols).mapInPandas(
        fn, DECODED_POS_ROWS_SCHEMA if with_positions else DECODED_ROWS_SCHEMA
    )


def _live_stats(docs: DataFrame) -> tuple[int, int, float]:
    """(n_docs, total_tokens, avgdl) of a docs frame, in one collect."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("tt")
    ).collect()[0]
    n, tt = int(row.n), int(row.tt or 0)
    return n, tt, (float(tt) / float(n)) if n else 0.0


def _term_stats(rows: DataFrame, n_docs: int) -> DataFrame:
    """term, df, cf, idf over decoded posting rows (one row per posting)."""
    return (
        rows.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
        .withColumn("idf", idf_col(n_docs))
    )


def _rechunk(
    rows: DataFrame, tstats: DataFrame, avgdl: float, block_size: int, positions: bool
) -> DataFrame:
    """Re-chunk live posting rows into gen-0 blocks: one streaming pass
    over (shard, term, doc_id)-sorted rows, so each group arrives doc-sorted."""

    def body(g: dict[str, list]) -> list[dict]:
        pos = [[int(p) for p in pl] for pl in g["positions"]] if positions else None
        return encode_segment_rows(
            g["shard"][0], g["term"][0], g["idf"][0], g["doc_id"], g["tf"], g["dl"],
            avgdl, block_size, gen=0, pos_lists=pos,
        )

    return map_term_groups(
        rows.join(tstats.select("term", "idf"), "term"),
        body,
        POS_SEGMENT_SCHEMA if positions else SEGMENT_SCHEMA,
        order=("doc_id",),
    )


def compact(spark: SparkSession, index_dir: str) -> dict:
    """Fold all generations into gen 0, dropping tombstoned postings and
    recomputing stats over live docs only. Idempotent; no doc renumbering.

    Every rewritten table (segments, term_stats, docs, url_map) is staged
    as a fresh version and promoted together by the single manifest write
    — readers either see the old index in full or the compacted one in
    full, never gen-0 blocks under mismatched stats."""
    t0 = time.time()
    store = SegmentStore(index_dir)
    mf = store.read_manifest()
    gens = mf.get("generations", [0])
    block_size = mf["block_size"]
    positions = bool(mf.get("positions", False))

    dele = _committed_deletes(spark, store, gens)
    n_deleted = int(dele.count()) if dele is not None else 0

    # Live corpus stats from the forward docs table.
    docs = store.read_committed(spark, "docs", gens)
    live_docs = docs.join(dele, "doc_id", "left_anti") if dele is not None else docs
    n_live, total_tokens, avgdl = _live_stats(live_docs)

    rows = _decoded_rows(store.read_committed(spark, "segments", gens), positions)
    live_rows = rows.join(dele, "doc_id", "left_anti") if dele is not None else rows

    old = {n: store._resolve(n) for n in ("segments", "term_stats", "docs", "url_map")}
    tstats = _term_stats(live_rows, n_live)
    ts_phys = store.stage_table(tstats, "term_stats", max_files=8)
    tstats_r = spark.read.parquet(store.path(ts_phys))

    compacted = _rechunk(live_rows, tstats_r, avgdl, block_size, positions)
    # stage_segments returns the name ACTUALLY written: a fresh version
    # path on the parquet backend, the logical table on Iceberg (atomic
    # createOrReplace — which also drops stale gen>=1 partitions). The
    # manifest pointer and the GC comparison below both use this value,
    # so GC can never target a live table.
    seg_phys = store.stage_segments(compacted)

    docs_phys = store.stage_table(
        live_docs.drop("gen").withColumn("gen", F.lit(0)),
        "docs",
        partition_gen=True,
    )
    um_phys = store.stage_table(
        _live_url_map(spark, store, gens).drop("gen").withColumn("gen", F.lit(0)),
        "url_map",
        partition_gen=True,
    )

    # COMMIT: flip every pointer + reset generations in one atomic write.
    tables = dict(mf.get("tables", {}))
    tables.update(
        {
            "segments": seg_phys,
            "term_stats": ts_phys,
            "docs": docs_phys,
            "url_map": um_phys,
        }
    )
    retired = [phys for name, phys in old.items() if tables[name] != phys]
    # Tombstones are folded in; they must become invisible WITHOUT
    # physically deleting the table under an open reader. Parquet
    # backend: re-point "deletes" at a fresh (not-yet-existing) version —
    # exists() turns False atomically with the commit, the next update
    # writes there, and the old path is GC'd a commit later. A stale
    # pre-compaction gen>=k partition can never resurrect: it lives in
    # the retired path nothing references. Iceberg: DROP after commit
    # (snapshot readers keep their data files until expiry).
    if store.exists("deletes") and not store.native_atomic:
        old_del = store._resolve("deletes")
        tables["deletes"] = store.next_version(old_del, "deletes")
        retired.append(old_del)
    mf.update(
        {
            "n_docs": n_live,
            "total_tokens": total_tokens,
            "avgdl": avgdl,
            "generations": [0],
            "tables": tables,
            "format": "parquet-v3",
        }
    )
    store.commit_and_gc(mf, retired)
    if store.native_atomic:
        store.remove_table("deletes")
    return {
        "n_live": n_live,
        "n_deleted_dropped": n_deleted,
        "elapsed_sec": time.time() - t0,
    }


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    predicate: str,
    build_id: str = "delete",
) -> UpdateResult:
    """ES ``_delete_by_query``: tombstone every LIVE doc matching a
    metadata predicate (over the docs table: doc_id/doclen/lang/source),
    committed as a tombstones-only generation.

    Same contract as :func:`add_generation`'s replaced-url tombstones
    (the reference's doc_as_upsert delete analog, extractor/loader.go:
    150-189): index-wide stats keep counting the tombstoned postings
    until :func:`compact` (the Lucene pre-merge contract), reads are
    gen-gated so the delete is invisible until the ONE atomic manifest
    commit, and a crash after the partition write but before the commit
    leaves the old manifest fully valid (the uncommitted gen partition
    is unreadable and a retry overwrites it in place).

    Scale shape: the predicate is pushed to the docs-table scan; the
    only data moved is the matched (doc_id, gen) pairs. Zero matches is
    a metadata-only no-op — nothing is written, no generation burned.
    """
    t0 = time.time()
    store = SegmentStore(index_dir)
    mf = store.read_manifest()
    committed = mf.get("generations", [0])
    gen = max(committed) + 1

    docs = store.read_committed(spark, "docs", committed)
    dele = _committed_deletes(spark, store, committed)
    if dele is not None:
        docs = docs.join(dele, "doc_id", "left_anti")
    matched = (
        docs.where(predicate).select("doc_id").withColumn("gen", F.lit(gen))
    )
    n_deleted = int(matched.count())
    if n_deleted == 0:
        return UpdateResult(store, max(committed), 0, 0, time.time() - t0)

    store.write_gen_partition(matched, "deletes")
    mf.update(
        {"generations": sorted(set(committed) | {gen}), "format": "parquet-v3"}
    )
    store.commit_and_gc(mf, [])
    return UpdateResult(store, gen, 0, n_deleted, time.time() - t0)


def reindex(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    predicate: str | None = None,
    n_shards: int | None = None,
) -> dict:
    """ES ``_reindex``: copy the LIVE documents of a source index (optionally
    filtered by a metadata predicate over the docs table) into a brand-new
    destination index, re-sharded if ``n_shards`` differs.

    The reference rebuilds an index by re-running the full extract pipeline
    into a fresh ES index (extractor/init.go:44-126 chooses full vs update
    mode; loader.go:114-136 creates the destination). Here the index itself
    is the source of truth — no raw ``_source`` is stored (the build keeps
    only postings + docs/url_map, like a Lucene index with stored fields
    disabled) — so reindex runs in POSTINGS space: decode the source blocks
    to rows, keep docs surviving tombstones + the predicate, recompute
    df/idf/avgdl over the kept corpus (the destination scores as if freshly
    built over exactly those docs — ES semantics, where the new index owns
    its own statistics), re-chunk into gen-0 blocks, and commit the
    destination manifest LAST (crash before it leaves no readable dest).
    doc_ids are preserved (never renumbered), so cross-index joins on
    doc_id/url_map stay valid.

    Scale shape: identical to :func:`compact` — one mapInPandas decode,
    one semi-join on the kept doc_ids (broadcast-eligible when the filter
    is selective), one streaming (shard, term) re-chunk; per-task state is
    one (shard, term) group plus one Arrow batch, never a term's global df. The
    predicate is pushed to the docs-table parquet scan.
    """
    t0 = time.time()
    src = SegmentStore(src_dir)
    mf = src.read_manifest()
    gens = mf.get("generations", [0])
    block_size = mf["block_size"]
    positions = bool(mf.get("positions", False))
    src_shards = int(mf.get("n_shards", 8))
    out_shards = int(n_shards) if n_shards else src_shards

    dest = SegmentStore(dest_dir)
    if dest.exists():
        raise ValueError(f"reindex destination already exists: {dest_dir}")

    docs = src.read_committed(spark, "docs", gens)
    dele = _committed_deletes(spark, src, gens)
    if dele is not None:
        docs = docs.join(dele, "doc_id", "left_anti")
    if predicate:
        docs = docs.where(predicate)
    kept_docs = docs.drop("gen").withColumn("gen", F.lit(0))

    n_live, total_tokens, avgdl = _live_stats(kept_docs)
    if n_live == 0:
        # The parquet store cannot represent a zero-table readable index
        # (schema inference needs rows); surface the no-op explicitly
        # instead of committing a dest that IndexHandle.open would reject.
        raise ValueError("reindex matched 0 live documents; nothing to copy")

    rows = _decoded_rows(src.read_committed(spark, "segments", gens), positions)
    # One semi-join enforces BOTH the tombstones and the predicate: the
    # kept-docs frame already excludes them.
    rows = rows.join(kept_docs.select("doc_id"), "doc_id", "left_semi")
    if out_shards != src_shards:
        rows = rows.withColumn(
            "shard", (F.col("doc_id") % out_shards).cast("int")
        )

    dest.write_table(_term_stats(rows, n_live), "term_stats", max_files=8)
    tstats_r = spark.read.parquet(dest.path("term_stats"))
    dest.write_segments(_rechunk(rows, tstats_r, avgdl, block_size, positions))
    dest.write_gen_partition(kept_docs, "docs")
    if src.exists("url_map"):
        um = _live_url_map(spark, src, gens)
        um = um.join(kept_docs.select("doc_id"), "doc_id", "left_semi")
        dest.write_gen_partition(
            um.drop("gen").withColumn("gen", F.lit(0)), "url_map"
        )

    # COMMIT LAST: until this write, dest has no manifest and open() fails
    # cleanly; a retry after any crash starts from scratch (dest.exists()
    # guard) — the source index is never touched.
    dest.write_manifest(
        {
            "n_docs": n_live,
            "avgdl": avgdl,
            "total_tokens": total_tokens,
            "n_shards": out_shards,
            "block_size": block_size,
            "format": "parquet-v3",
            "next_doc_id": mf.get("next_doc_id"),
            "generations": [0],
            "tables": {},
            "positions": positions,
        }
    )
    return {
        "n_docs": n_live,
        "n_shards": out_shards,
        "elapsed_sec": time.time() - t0,
    }

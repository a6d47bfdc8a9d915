"""Per-layer probes that only the traced run makes, after its timed region.

* :func:`table_bytes` — on-disk bytes of each table the manifest names.
* :func:`stage_times` — ingest and build stages, each authored afresh from
  the same input and forced with a noop write; a stage's self time is the
  difference to the stage before it (each run pays its upstream again,
  eager jobs such as dedup's key sample and the corpus-stats collect
  included).
* :func:`kernel_probe` — pulls the queried terms' posting blocks to the
  driver and times ``PostingBlock.decode``, ``wand_topk`` and
  ``phrase_match_topk`` on them, shard by shard, as the executors run them.
"""

from __future__ import annotations

import json
import os
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

from unichem2index_spark.functions import bm25
from unichem2index_spark.functions.codec import PostingBlock
from unichem2index_spark.functions.phrase import DecodeStats, PosTermPostings, phrase_match_topk
from unichem2index_spark.functions.wand import TermBlocks, wand_topk
from unichem2index_spark.operators.build import (
    corpus_stats,
    merge_runs_to_segments,
    spimi_runs,
    term_stats_from_runs,
    tokenized_docs,
)
from unichem2index_spark.operators.ingest import webtext_docs

TABLES = ("segments", "term_stats", "docs", "url_map", "deletes", "lineage")


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``, Hadoop ``.crc`` sidecars
    excluded."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if not f.endswith(".crc")
        )
    return total


def table_bytes(index_dir: str) -> dict[str, int]:
    """Logical table -> on-disk bytes of the version the manifest points at
    (0 for a table the index does not have), plus the manifest itself."""
    mf_path = os.path.join(index_dir, "manifest.json")
    with open(mf_path) as f:
        tables = json.load(f).get("tables", {})
    out = {t: dir_bytes(os.path.join(index_dir, tables.get(t, t))) for t in TABLES}
    out["manifest"] = os.path.getsize(mf_path)
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _seconds(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def stage_times(spark, webtext, n_shards: int, positions: bool) -> dict[str, float]:
    """Cumulative times through extract+dedup, tokenize, SPIMI and merge,
    turned into per-stage self times. Each pass authors its stages afresh
    from ``webtext`` inside the timer, so it pays every job of the stages
    before it, the jobs their operators run while authoring included."""
    par = spark.sparkContext.defaultParallelism

    def docs():
        d = webtext_docs(webtext)
        return d.repartition(par) if d.rdd.getNumPartitions() < par else d

    def runs(tok):
        return spimi_runs(tok, n_shards, positions=positions)

    persisted = []

    def merge():
        # as build_index does: persist the tokens, collect the corpus stats
        # over them, then merge the SPIMI runs into segments
        tok = tokenized_docs(docs()).persist(StorageLevel.DISK_ONLY)
        persisted.append(tok)
        stats = corpus_stats(tok)
        r = runs(tok)
        _noop(merge_runs_to_segments(
            r, term_stats_from_runs(r, stats["n_docs"]), stats["avgdl"], positions=positions))

    try:
        _noop(docs())  # untimed: the first pass would also pay Python-worker start-up
        cum = {
            "extract_dedup": _seconds(lambda: _noop(docs())),
            "tokenize": _seconds(lambda: _noop(tokenized_docs(docs()))),
            "spimi": _seconds(lambda: _noop(runs(tokenized_docs(docs())))),
            "merge": _seconds(merge),
        }
    finally:
        for tok in persisted:
            tok.unpersist(blocking=True)
    order = list(cum)
    return {
        s: cum[s] - (cum[order[i - 1]] if i else 0.0) for i, s in enumerate(order)
    }


def _groups(pdf):
    """(shard, term) -> that term's rows in the shard, in (gen, block_id) order."""
    pdf = pdf.sort_values(["shard", "term", "gen", "block_id"])
    return {(int(s), str(t)): g for (s, t), g in pdf.groupby(["shard", "term"], sort=False)}


def kernel_probe(spark, handle, wand_queries: list[dict], phrases: list[dict]) -> dict:
    """Driver-side timing of the shard kernels over the blocks the queries
    touch. Returns per-query kernel ms, decode cost per block, the share of
    blocks WAND decoded, and postings decoded per phrase, plus each query's
    merged top-k so the caller can compare it with the engine's answer."""
    terms = sorted(
        {t for q in wand_queries for t in q["terms"]} | {t for p in phrases for t in p["phrase"]}
    )
    idfs = {
        r.term: float(r.idf)
        for r in handle.term_stats(spark).where(F.col("term").isin(terms)).select("term", "idf").collect()
    }
    cols = ["gen", "shard", "term", "block_id", "n_docs", "max_doc_id", "doc_gaps", "tfs",
            "dls", "block_max_tf", "block_min_dl", "block_max_score", "positions"]
    pdf = handle.segments(spark).where(F.col("term").isin(terms)).select(*cols).toPandas()
    dead = handle.deleted_ids(spark)
    groups = _groups(pdf)
    shards = sorted({s for s, _ in groups})
    avgdl = handle.avgdl

    enc = [(bytes(g), bytes(t), bytes(d)) for g, t, d in zip(pdf["doc_gaps"], pdf["tfs"], pdf["dls"])]
    t = time.perf_counter()
    for blk in enc:
        PostingBlock.decode(*blk)
    decode_us = (time.perf_counter() - t) * 1e6 / max(1, len(enc))

    def term_blocks(g, term):
        if handle.multi_gen:
            bounds = [bm25.max_score_bound(int(a), int(b), avgdl, idfs[term])
                      for a, b in zip(g["block_max_tf"], g["block_min_dl"])]
        else:
            bounds = [float(x) for x in g["block_max_score"]]
        return TermBlocks(
            term=term, idf=idfs[term], max_doc_ids=[int(x) for x in g["max_doc_id"]],
            block_max_scores=bounds,
            enc_blocks=[(bytes(a), bytes(b), bytes(c)) for a, b, c in zip(g["doc_gaps"], g["tfs"], g["dls"])],
        )

    wand_ms, wand_top, decoded, total = [], [], 0, 0
    for q in wand_queries:
        uniq = sorted(set(q["terms"]) & set(idfs))
        per_query, top = 0.0, []
        for s in shards:
            cursors = [term_blocks(groups[(s, u)], u) for u in uniq if (s, u) in groups]
            t = time.perf_counter()
            top += wand_topk(cursors, avgdl, q["k"], deleted=dead)
            per_query += time.perf_counter() - t
            decoded += sum(len(c.blk_cache) for c in cursors)
            total += sum(len(c.enc_blocks) for c in cursors)
        wand_ms.append(per_query * 1e3)
        wand_top.append(sorted(top, key=lambda p: (-p[1], p[0]))[: q["k"]])

    phrase_ms, phrase_decoded = [], []
    for p in phrases:
        stats = DecodeStats()
        per_query = 0.0
        for s in shards:
            posts = {
                u: PosTermPostings(
                    term=u, max_doc_ids=[int(x) for x in g["max_doc_id"]],
                    enc_blocks=list(zip(g["doc_gaps"], g["tfs"], g["dls"], g["positions"])),
                    df=int(g["n_docs"].sum()), stats=stats,
                )
                for u in set(p["phrase"]) if (g := groups.get((s, u))) is not None
            }
            t = time.perf_counter()
            phrase_match_topk(posts, p["phrase"], idfs, avgdl, p["k"], deleted=dead)
            per_query += time.perf_counter() - t
        phrase_ms.append(per_query * 1e3)
        phrase_decoded.append(sum(stats.postings.values()))

    return {
        "decode_us_per_block": decode_us,
        "wand_ms": wand_ms,
        "wand_top": wand_top,
        "blocks_decoded_ratio": decoded / max(1, total),
        "phrase_ms": phrase_ms,
        "phrase_postings": phrase_decoded,
    }

"""Round-6 optimization regression guards.

Pins the two invariants the r6 optimization pass introduced:

1. MinHash-LSH candidate pairs are emitted EXACTLY ONCE by the band
   self-join (first-matching-band residual), with ``n_bands`` equal to a
   brute-force matching-band count recomputed from the signatures — the
   old plan guaranteed this via a pair-level groupBy that r6 removed.
2. The serving path's ``groupBy("shard")`` kernels actually run in
   PARALLEL: ``IndexHandle.segments()`` pins an explicit shard
   partitioning, because AQE's bytes-based coalescing otherwise folds
   the KB-sized posting shuffle into a single partition and serializes
   the per-shard Python kernel (measured 32-shards-in-1-task before the
   fix; same pathology fixed in the build merge and dedup band join).
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT


def test_minhash_pairs_unique_with_exact_band_counts(spark):
    from unichem2index_spark.functions.hashing import (
        BAND_SIZE,
        NUM_HASHES,
        minhash_sig,
    )
    from unichem2index_spark.operators.dedup import (
        doc_token_ids,
        minhash_lsh_pairs,
    )

    docs = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .where(F.col("doc_id") < 400)
        .select("doc_id", "source", "text")
    )
    t = {"documents": docs}
    pairs_df = minhash_lsh_pairs(spark, t, threshold=0.8)
    rows = pairs_df.collect()
    pairs = [(r.doc_a, r.doc_b) for r in rows]
    # exactly-once emission: no duplicate candidate pair survives
    assert len(pairs) == len(set(pairs))
    # n_bands == brute-force matching-band count from the signatures
    ids = doc_token_ids(docs).collect()
    by_doc: dict[int, list[int]] = {}
    for r in ids:
        by_doc.setdefault(r.doc_id, []).append(r.token_id)
    sigs = {d: minhash_sig(toks) for d, toks in by_doc.items()}
    n_bands = NUM_HASHES // BAND_SIZE

    def bands_matching(a: int, b: int) -> int:
        sa, sb = sigs[a], sigs[b]
        return sum(
            1
            for bi in range(n_bands)
            if sa[bi * BAND_SIZE : (bi + 1) * BAND_SIZE]
            == sb[bi * BAND_SIZE : (bi + 1) * BAND_SIZE]
        )

    for r in rows:
        assert r.n_bands == bands_matching(r.doc_a, r.doc_b), (
            r.doc_a,
            r.doc_b,
        )
        assert r.n_bands >= 1

    persisted = getattr(pairs_df, "_u2i_persisted", None)
    if persisted is not None:
        persisted.unpersist()


def test_serving_shard_kernel_not_coalesced_to_one_task(spark, tmp_path):
    import pandas as pd

    from unichem2index_spark.operators import query as Q
    from unichem2index_spark.operators.build import build_index

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    idx = str(tmp_path / "idx_part")
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, docs, idx, n_shards=8, build_id="t")
    for cache in (False, True):
        h = Q.IndexHandle.open(spark, idx, cache=cache)
        seg = h.segments(spark).where(F.col("term").isin(["the", "merge"]))
        grouped = seg.groupBy("shard").applyInPandas(
            lambda p: pd.DataFrame({"shard": [int(p["shard"].iloc[0])]}),
            "shard int",
        )
        dist = (
            grouped.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        # The 8 shard groups must NOT all collapse into one partition.
        assert len(dist) > 1, f"cache={cache}: kernel serialized: {dist}"
        if cache:
            h.close()

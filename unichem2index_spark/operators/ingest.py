"""Webtext ingest: the north-rule input table -> indexable docs -> segments.

Input per BASELINE.json input_hint: ``(url:string, warc_ts:timestamp,
html:binary, text:string, lang:string)``. The pipeline mirrors the
reference's extract half (extractor/extractor.go:91-186 streams rows and
transforms each; here the transform is the HTML extractor instead of the
InChI divider) re-expressed Spark-first:

    webtext
      -> extract_text (Arrow pandas_udf, byte-identical to the pure oracle)
         FIRST, map-side — the heavy html binary never crosses a shuffle
      -> ONE range shuffle on url: dedup-by-url (latest warc_ts wins,
         T3 upsert semantics, extractor/loader.go:186) + deterministic
         dense doc_id = rank of url, fused in a single mapInPandas pass
      -> build_index (SPIMI -> skew-aware shuffle -> block-max segments)

Scale notes
-----------
* A global ``row_number() OVER (ORDER BY url)`` funnels the corpus through
  ONE reducer. Instead: deterministic order-preserving url buckets
  (boundaries from one pruned sample), per-bucket kept counts via a
  skinny countDistinct agg (tiny driver-side list), and doc_id =
  bucket offset + per-bucket dense index — every stage stays fully
  parallel and the result is the identical dense rank.
* Extraction before the shuffle cuts shuffle bytes ~5-10x (html >> text)
  and is the right order at 10^12 docs: the binary column is dropped at
  the scan-adjacent stage, never serialized again. Because the bucket
  function is pure (no sampled-shuffle boundaries to freeze), the
  extracted corpus is evaluated exactly once with NO full-corpus
  persist — the count pass reads only the url column.
* Dedup and rank share the same bucket shuffle: same-url rows are
  guaranteed co-located and ordered, so "keep newest per url" is a local
  streaming pass, not a second window shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W
from pyspark.sql.functions import pandas_udf

from unichem2index_spark.functions.extract import extract_text_udf
from unichem2index_spark.operators.build import (
    BuildResult,
    build_index,
    input_partitions,
)
from unichem2index_spark.sources.tables import SegmentStore


def extracted_webtext(webtext: DataFrame) -> DataFrame:
    """Replace ``text`` with the frozen extractor's output over ``html``.

    Arrow-vectorized (no per-row Python, input_hint mandate); rows with a
    NULL html keep the provided text (Common Crawl WET-style fallback).
    """
    return webtext.select(
        "url",
        "warc_ts",
        F.when(
            F.col("html").isNotNull(), extract_text_udf(F.col("html"))
        )
        .otherwise(F.coalesce(F.col("text"), F.lit("")))
        .alias("text"),
        "lang",
    )


def dedup_latest_by_url(webtext: DataFrame) -> DataFrame:
    """One row per url, newest warc_ts wins (window form — used standalone;
    the ingest hot path fuses this into the doc-id shuffle instead)."""
    w = W.partitionBy("url").orderBy(F.desc_nulls_last("warc_ts"))
    return (
        webtext.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# Below this row count the corpus fits one sort partition comfortably:
# skip boundary computation AND the per-bucket count job (bucket 0 only,
# offset 0) — two fewer Spark jobs on the small-corpus path.
SMALL_CORPUS_ROWS = 200_000


def dedup_and_assign_doc_ids(
    df: DataFrame,
    key: str = "url",
    ts_col: str | None = "warc_ts",
    num_partitions: int | None = None,
) -> DataFrame:
    """Fused dedup-by-key + deterministic dense doc_id = rank of ``key``,
    over PRECOMPUTED order-preserving buckets (no sampled range shuffle,
    no full-corpus persists).

    1. ONE pruned pass (mapInPandas over the key column only — parquet
       column pruning drops the extract UDF) computes the row count AND a
       deterministic per-partition stride sample (bounded memory, doubling
       stride) in the same job. Boundary keys come from the weighted
       sample quantiles; bucket(k) = #boundaries <= k — a pure,
       order-preserving function of the key, identical across
       re-evaluations, so nothing needs persisting (the r2 design's two
       DISK_ONLY full-corpus persists existed ONLY to freeze
       ``repartitionByRange``'s sampled boundaries and to feed its
       bound-sampling job without re-running the html extract).
    2. ONE pruned agg job: countDistinct(key) per bucket == kept rows per
       bucket (dedup keeps exactly one row per distinct key) -> exclusive
       prefix-sum offsets in bucket order (tiny driver list). Null keys
       form ONE kept group: both this agg and the keep-first pass treat
       the key as the pair (isnull, coalesce(key, '')), so no sentinel
       string exists for a real key to collide with. Skipped entirely
       below ``SMALL_CORPUS_ROWS`` (single bucket).
    3. ONE full pass: hash-repartition on the bucket id (same-key rows
       co-locate; bucket->partition placement is irrelevant because ids
       come from per-BUCKET offsets), sortWithinPartitions(key asc, ts
       desc, rest asc) — order-preserving bucketing makes buckets
       contiguous under the key sort — then a VECTORIZED
       keep-first-per-key + per-bucket dense index + offsets[bucket]
       (shift/compare + cumsum per Arrow batch, state carried across
       batches; no per-row Python in the build hot path).

    Equals ``row_number() OVER (ORDER BY key) - 1`` over the deduped set
    under ANY parallelism — the property BM25 rank-identity needs
    (SURVEY.md §7 hard-point 2). Ties on (key, ts): smallest remaining
    column tuple wins (fully deterministic).

    Scale notes: vs the r2 sampled-range design this removes ~3
    full-corpus disk traversals (write+2 reads of the pre-shuffle
    persist, plus the post-shuffle persist's second read) and the second
    python keep-first pass — disk bandwidth is the one resource a
    single host cannot scale with executor count, and was the measured
    ceiling on 4-executor scaling efficiency. The count pass shuffles
    only distinct (bucket, key) pairs. 4x buckets per partition keeps
    hash-placement balanced (max bucket = 1/(4P) of the keyspace by
    construction of the quantile boundaries).
    """
    import numpy as np

    if ts_col is None:
        ts_col = key  # degenerate: no dedup ordering column
    spark = df.sparkSession
    if num_partitions:
        n_part = num_partitions
    else:
        try:
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            n_part = spark.sparkContext.defaultParallelism
    n_buckets = max(1, n_part * 4)

    # -- 1. fused count + boundary sample (one pruned job) ----------------
    keys_only = df.select(F.coalesce(F.col(key), F.lit("")).alias(key))
    # per-partition sample cap: aim for ~50 keys per bucket overall
    n_input_parts = max(1, input_partitions(keys_only))
    cap = max(64, (50 * n_buckets) // n_input_parts)

    def count_and_sample(batches):
        # Deterministic stride sample: keep rows at partition positions
        # 0, s, 2s, ...; when the buffer exceeds 2*cap, halve it (keep
        # every other element == double the stride). Bounded memory,
        # uniform spread (better than Bernoulli for quantiles), no RNG.
        n = 0
        stride = 1
        kept: list = []
        for pdf in batches:
            vals = pdf[key].to_numpy(dtype=object)
            idx = np.arange(n, n + len(vals))
            kept.extend(vals[idx % stride == 0].tolist())
            n += len(vals)
            while len(kept) > 2 * cap:
                kept = kept[::2]
                stride *= 2
        yield pd.DataFrame(
            {"n": [n], "stride": [stride], "keys": [kept]},
        )

    parts = keys_only.mapInPandas(
        count_and_sample, "n long, stride long, keys array<string>"
    ).collect()
    n_rows = sum(r.n for r in parts)
    if n_rows == 0:
        out_schema = T.StructType(
            [T.StructField("doc_id", T.LongType(), False)]
            + list(df.schema.fields)
        )
        out = spark.createDataFrame([], out_schema)
        out._u2i_persisted = None  # type: ignore[attr-defined]
        return out

    bounds: list[str] = []
    offsets: dict[int, int] = {0: 0}
    if n_rows > SMALL_CORPUS_ROWS:
        # weighted quantile boundaries: each sampled key represents
        # `stride` rows of its partition
        wk = sorted(
            (k, int(r.stride)) for r in parts for k in r.keys
        )
        total_w = float(sum(w for _, w in wk))
        step_w = total_w / n_buckets
        bset = set()
        acc_w = 0.0
        nxt_cut = step_w
        for k, w in wk:
            acc_w += w
            if acc_w >= nxt_cut:
                bset.add(k)
                nxt_cut += step_w
        bounds = sorted(bset)

    @pandas_udf(T.IntegerType())
    def bucket_of(keys: pd.Series) -> pd.Series:
        import numpy as np

        b = np.array(bounds, dtype=object)
        return pd.Series(
            np.searchsorted(b, keys.fillna("").to_numpy(dtype=object), side="right"),
            dtype="int32",
        )

    bucketed = df.withColumn("_bkt", bucket_of(F.col(key)))

    # -- 2. kept-count per bucket -> exclusive prefix-sum offsets ---------
    if bounds:
        # (isnull, value) pair: the null group counts as ONE distinct key
        # that no real string can alias (keep-first compares the same pair)
        counted_key = F.struct(
            F.col(key).isNull().alias("_isnull"),
            F.coalesce(F.col(key), F.lit("")).alias("_k"),
        )
        counts = {
            r._bkt: r.n
            for r in bucketed.select("_bkt", counted_key.alias("_k"))
            .groupBy("_bkt")
            .agg(F.countDistinct("_k").alias("n"))
            .collect()
        }
        offsets = {}
        acc = 0
        for b in sorted(counts):
            offsets[b] = acc
            acc += counts[b]

    # -- 3. one full pass: shuffle on bucket, sort, fuse dedup+rank -------
    other = [c for c in df.columns if c not in (key, ts_col)]
    ranged = bucketed.repartition(n_part, "_bkt").sortWithinPartitions(
        F.asc(key), F.desc_nulls_last(ts_col), *[F.asc(c) for c in other]
    )
    out_schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False)] + list(df.schema.fields)
    )

    def keep_first_with_rank(batches):
        # Vectorized per Arrow batch; (prev_bkt, prev_key, prev_null, nxt)
        # carry the boundary state between batches of the same sorted
        # partition. Key equality is the (isnull, filled-value) pair —
        # consecutive nulls compare EQUAL (one kept group; plain null
        # compares break both in Python and under pandas shift), and no
        # real string can alias the null group (same pair the count agg
        # groups by).
        prev_bkt = -1  # real buckets are >= 0
        prev_key: object = None
        prev_null = False
        nxt = 0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            nv = pdf[key].isna().to_numpy()
            kv = pdf[key].fillna("").to_numpy(dtype=object)
            bv = pdf["_bkt"].to_numpy()
            new_bkt = np.empty(n, dtype=bool)
            new_bkt[0] = bool(bv[0] != prev_bkt)
            new_bkt[1:] = bv[1:] != bv[:-1]
            keep = np.empty(n, dtype=bool)
            keep[0] = bool(
                new_bkt[0] or kv[0] != prev_key or nv[0] != prev_null
            )
            keep[1:] = (
                new_bkt[1:] | (kv[1:] != kv[:-1]) | (nv[1:] != nv[:-1])
            )
            kc = keep.astype(np.int64)
            kept_before = np.cumsum(kc) - kc  # kept strictly before row i
            # segment = maximal run of one bucket; base id at each start
            start_mask = new_bkt.copy()
            start_mask[0] = True
            start_idx = np.flatnonzero(start_mask)
            sb = np.empty(len(start_idx), dtype=np.int64)
            for j, p in enumerate(start_idx):
                if p == 0 and not new_bkt[0]:
                    sb[j] = nxt  # continuing the previous batch's bucket
                else:
                    sb[j] = offsets[int(bv[p])] - kept_before[p]
            seg_of_row = (
                np.searchsorted(start_idx, np.arange(n), side="right") - 1
            )
            ids_all = sb[seg_of_row] + kept_before
            nxt = int(sb[-1] + kept_before[-1] + kc[-1])
            prev_bkt = int(bv[-1])
            prev_key = kv[-1]
            prev_null = bool(nv[-1])
            kept = pdf[keep].copy()
            kept.insert(0, "doc_id", ids_all[keep])
            yield kept.drop(columns=["_bkt"])

    out = ranged.mapInPandas(keep_first_with_rank, out_schema)
    out._u2i_persisted = None  # type: ignore[attr-defined]
    return out


def assign_doc_ids(
    df: DataFrame, key: str = "url", num_partitions: int | None = None
) -> DataFrame:
    """Deterministic dense doc_id = rank of unique ``key`` (no dedup)."""
    return dedup_and_assign_doc_ids(
        df, key=key, ts_col=None, num_partitions=num_partitions
    )


def webtext_docs(webtext: DataFrame) -> DataFrame:
    """Full ingest transform: extract -> fused dedup+doc_id (one shuffle).
    Output columns: ``doc_id, url, warc_ts, text, lang, source``
    (source = url host, the per-source analytics key)."""
    extracted = extracted_webtext(webtext)
    with_ids = dedup_and_assign_doc_ids(extracted, key="url", ts_col="warc_ts")
    out = with_ids.select(
        "doc_id",
        "url",
        "warc_ts",
        "text",
        "lang",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("source"),
    )
    out._u2i_persisted = getattr(with_ids, "_u2i_persisted", None)  # type: ignore[attr-defined]
    return out


def build_index_from_webtext(
    spark: SparkSession,
    webtext: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    resume: bool = False,
    build_id: str = "webtext",
    positions: bool = False,
) -> BuildResult:
    """End-to-end north-rule pipeline: webtext table -> BM25-ready segment
    index. The url<->doc_id mapping is persisted so query results can be
    joined back to urls (ES _id analog)."""
    docs = webtext_docs(webtext)
    store = SegmentStore(out_dir)

    def write_url_map(tok: DataFrame | None = None) -> None:
        # Runs on a build_index driver thread overlapping the merge phase.
        # Input: the materialized tok persist (url/warc_ts ride along in
        # it precisely so this write never re-materializes the ingest);
        # joined before the manifest commit, so an index never commits
        # without its url_map. The no-tok fallback (early-return path)
        # derives from the raw plan.
        if not store.exists("url_map"):
            src = tok if tok is not None else docs
            store.write_gen_partition(
                src.select("doc_id", "url", "warc_ts", "lang", "source")
                .withColumn("gen", F.lit(0)),
                "url_map",
            )

    result = build_index(
        spark, docs, out_dir, n_shards=n_shards, resume=resume,
        build_id=build_id, aux_writes=[write_url_map],
        positions=positions,
    )
    write_url_map()  # no-op unless an early return skipped aux writes
    return result

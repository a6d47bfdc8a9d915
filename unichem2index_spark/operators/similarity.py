"""Similarity search over an embedding column (array<float>).

* :func:`cosine_topk_bruteforce` — exact top-k neighbors; broadcast the
  (small) query set against the corpus, dot products via ``F.zip_with`` +
  ``F.aggregate`` (JVM-side, no Python workers), per-query top-k via
  row_number window.
* :func:`cosine_topk_lsh` — the scale path: random-hyperplane (sign) LSH
  buckets; queries only score candidates sharing their bucket. Hyperplane
  components are a deterministic integer function of (plane, dim) so the
  whole thing remains engine-reproducible.

At 10^12 rows the brute-force path is per-query O(N) — the LSH path's
bucket join prunes to O(N / 2^n_planes) candidates per query and both paths
avoid any driver-side loop.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# Multi-table sign-LSH: L tables x b hyperplanes. A candidate matches if
# it shares a query's b-bit bucket in ANY table — recall ~= 1-(1-p^b)^L
# where p = 1 - theta/pi. The synthetic fixture's true neighbors sit at
# theta ~70deg (barely tighter than random), the hardest possible regime:
# b=4/L=16 measures recall@10 = 0.72 there. Real-world clustered
# embeddings sit at much smaller theta, where the same L supports a
# larger b (more pruning at equal recall).
N_TABLES = 16
N_PLANES = 4
PLANE_MOD = 997  # deterministic pseudo-random hyperplanes in [-0.498, 0.498]


def _as_double(col: str) -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk_bruteforce(
    spark: SparkSession, t, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """Exact cosine top-k: query vectors are the first ``n_queries`` ids;
    corpus is everything else. Ties broken by vec_id asc."""
    emb = t["embeddings"].select(
        "vec_id", _as_double("embedding").alias("v")
    )
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    corpus = emb.where(F.col("vec_id") >= n_queries)
    joined = corpus.crossJoin(F.broadcast(queries))
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("qv"), F.col("v")) / (_norm(F.col("qv")) * _norm(F.col("v"))),
            6,
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


def _plane_component(plane_idx, d) -> F.Column:
    """Deterministic hyperplane component in [-0.498, 0.498]:
    h[plane][d] = ((plane*64 + d) * 2654435761 % PLANE_MOD)/PLANE_MOD - 0.5."""
    return (
        ((plane_idx * 64 + d) * F.lit(2654435761) % F.lit(PLANE_MOD))
        .cast("double")
        / F.lit(float(PLANE_MOD))
        - F.lit(0.5)
    )


def _table_bucket_expr(vcol: str, table: int, n_planes: int) -> F.Column:
    """b-bit sign bucket for one hash table (planes table*b .. table*b+b-1)."""
    def _proj_fn(plane: int):
        return lambda x, d: x * _plane_component(F.lit(plane), d)

    bits = []
    for j in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                F.col(vcol),
                F.sequence(F.lit(0), F.size(F.col(vcol)) - 1),
                _proj_fn(table * n_planes + j),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def _nearest_cell_udf(centroids: list[tuple[int, list[float]]]):
    """Vectorized (Arrow/numpy) nearest-centroid assignment: one matmul
    per batch against the broadcast-sized centroid matrix — map-side, NO
    join, NO shuffle, so 10^12 rows assign in a single scan (the same
    batched-GEMM shape FAISS uses for its coarse quantizer). A pure
    Catalyst-expression argmin over n_cells x dim literals blows past the
    codegen method-size limit and falls back to interpreted evaluation
    (measured ~40x slower at 32x64); the numpy path is the scale answer.
    Cosine argmax == argmax of dot/|c| (|v| is constant per row).
    Ties: lowest cell id (centroids are cell-sorted; argmax takes the
    first maximum)."""
    import numpy as np

    cells = np.array([c for c, _ in centroids], dtype="int32")
    C = np.array([v for _, v in centroids], dtype="float64")
    Cn = (C / np.linalg.norm(C, axis=1, keepdims=True)).T  # (d, k)

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        M = np.stack(vs.to_numpy())  # (batch, d)
        return pd.Series(cells[np.argmax(M @ Cn, axis=1)])

    return assign


def train_ivf_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    n_iters: int = 2,
    sample_stride: int = 1,
) -> list[tuple[int, list[float]]]:
    """IVF coarse quantizer: k-means on a deterministic corpus sample
    (``vec_id % sample_stride == 0`` — at web scale training NEVER sees
    the full corpus; stride keeps it a few thousand rows). Init = the
    ``n_cells`` lowest-vec_id sample rows; each Lloyd iteration is one
    map-side assignment + one (cell, dim) mean agg; centroids live on the
    driver between iterations (n_cells x dim doubles — broadcast-sized by
    construction, like FAISS's quantizer object)."""
    sample = emb.where((F.col("vec_id") % sample_stride) == 0).select(
        "vec_id", "v"
    )
    init = sample.orderBy("vec_id").limit(n_cells).collect()
    centroids = [(i, list(r.v)) for i, r in enumerate(init)]
    for _ in range(n_iters):
        assigned = sample.select(
            _nearest_cell_udf(centroids)(F.col("v")).alias("cell"),
            F.posexplode(F.col("v")).alias("dim", "x"),
        )
        means = (
            assigned.groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("dm")
            )
            .select(
                "cell", F.transform("dm", lambda s: s["m"]).alias("c")
            )
            .collect()
        )
        # Empty cells keep their previous centroid (standard k-means fix).
        new = dict(centroids)
        for r in means:
            new[r.cell] = list(r.c)
        centroids = sorted(new.items())
    return centroids


def cosine_topk_ivf(
    spark: SparkSession,
    t,
    n_queries: int = 5,
    k: int = 10,
    n_cells: int = 32,
    nprobe: int = 8,
    n_iters: int = 2,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) partitioning — the
    second scale path beside :func:`cosine_topk_lsh`, trading LSH's
    data-independent buckets for data-ADAPTIVE cells (FAISS IVF-Flat
    shape): a trained coarse quantizer assigns every vector to its
    nearest centroid cell; a query exactly rescores only the vectors in
    its ``nprobe`` nearest cells (~nprobe/n_cells of the corpus).

    Scale shape: training touches a sample; cell assignment is one
    shuffle-free scan (centroid literals evaluated per row); the probe
    join is cell-equality against a broadcast query->cell list; exact
    rescoring touches only the probed fraction. Approximate by design ->
    rows-only correctness, with recall@k vs the brute-force spine
    asserted in pytest (like the LSH path)."""
    emb = t["embeddings"].select("vec_id", _as_double("embedding").alias("v"))
    corpus = emb.where(F.col("vec_id") >= n_queries)
    # Train on a bounded deterministic sample whatever the corpus size
    # (IVF quantizer training never sees the full corpus at scale).
    n_corpus = corpus.count()
    stride = max(1, n_corpus // 4000)
    centroids = train_ivf_centroids(
        corpus, n_cells=n_cells, n_iters=n_iters, sample_stride=stride
    )
    # Centroids enter the probe plan as ONE broadcast row, not as
    # expression literals: the literal form was n_cells x dim F.lit()
    # py4j round-trips (2048 at 32x64) and a matching Catalyst tree —
    # measured ~1.1 s of DRIVER-side plan authoring per call, more than
    # the probe's actual execution. The expressions below are unchanged
    # (same aggregate/zip_with over the same doubles — createDataFrame
    # stores exact IEEE values), so probe results are bit-identical.
    cent_df = spark.createDataFrame(
        [([(int(c), [float(x) for x in vec]) for c, vec in centroids],)],
        "cents array<struct<cell:int,c:array<double>>>",
    )

    assigned = corpus.select(
        "vec_id", "v", _nearest_cell_udf(centroids)(F.col("v")).alias("cell")
    )

    # Query -> nprobe nearest cells: tiny (n_queries x n_cells), computed
    # the same map-side way then exploded; broadcast into the probe join.
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probe = queries.crossJoin(F.broadcast(cent_df)).select(
        "query_id",
        "qv",
        F.slice(
            F.array_sort(
                F.transform(
                    F.col("cents"),
                    lambda s: F.struct(
                        (-_dot(F.col("qv"), s["c"]) / _norm(s["c"])).alias(
                            "negsim"
                        ),
                        s["cell"].alias("cell"),
                    ),
                )
            ),
            1,
            nprobe,
        ).alias("cells"),
    ).select(
        "query_id", "qv", F.explode(F.transform("cells", lambda s: s["cell"])).alias("cell")
    )

    scored = assigned.join(F.broadcast(probe), "cell").select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("qv"), F.col("v")) / (_norm(F.col("qv")) * _norm(F.col("v"))),
            6,
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


def cosine_topk_lsh(
    spark: SparkSession,
    t,
    n_queries: int = 5,
    k: int = 10,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Approximate cosine top-k via multi-table sign-LSH: a corpus vector
    is a candidate if it shares the query's b-bit bucket in ANY of the L
    tables (the standard OR-of-ANDs construction); candidates are exactly
    rescored and ranked per query. Recall < 1 by design (rows-only
    correctness; a pytest asserts recall@k against the brute-force spine).

    Scale shape: each vector computes L bucket ids map-side (JVM
    expressions, one pass); the candidate join is bucket-equality per
    table — at 10^12 rows the per-table bucket join prunes to
    ~N/2^b candidates per query-table, and the final exact rescoring
    touches only the deduped candidate set."""
    emb = t["embeddings"].select("vec_id", _as_double("embedding").alias("v"))
    buckets = F.array(
        *[_table_bucket_expr("v", l, n_planes) for l in range(n_tables)]
    )
    bucketed = emb.select(
        "vec_id", F.posexplode(buckets).alias("tbl", "bucket")
    )
    qb = bucketed.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    cb = bucketed.where(F.col("vec_id") >= n_queries)
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .select("query_id", "vec_id")
        .distinct()
    )
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        cand.join(F.broadcast(queries), "query_id")
        .join(emb, "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (_norm(F.col("qv")) * _norm(F.col("v"))),
                6,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


def cosine_topk_filtered(
    spark: SparkSession,
    t,
    n_queries: int = 5,
    k: int = 10,
    label_mod: int = 3,
) -> DataFrame:
    """ES kNN-with-filter analog (`knn: {filter: {...}}`): exact cosine
    top-k where the corpus is restricted by a metadata predicate DURING
    the search (ES post-8.2 semantics: the filter gates candidates, so
    the page always holds k *matching* neighbors — not a post-filter of
    an unfiltered page). The predicate reaches the parquet scan
    (pushed filter); everything else is the brute-force plan."""
    emb = t["embeddings"].select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    corpus = emb.where(
        (F.col("vec_id") >= n_queries) & (F.col("label") % label_mod == 0)
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        "label",
        F.round(
            _dot(F.col("qv"), F.col("v")) / (_norm(F.col("qv")) * _norm(F.col("v"))),
            6,
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "label", "cosine")
        .orderBy("query_id", "rank")
    )


def rrf_hybrid(
    spark: SparkSession,
    t,
    terms: list[str],
    qvec_id: int = 42,
    k: int = 10,
    window: int = 20,
    rank_const: int = 60,
) -> DataFrame:
    """ES hybrid retrieval via Reciprocal Rank Fusion (the `rrf`
    retriever, ES 8.9+): fuse a lexical BM25 ranking with a kNN cosine
    ranking over the SAME id space (doc_id == vec_id in the fixture,
    exactly ES's one-doc-two-fields shape) by
    ``score(d) = sum_r 1 / (rank_const + rank_r(d))`` over each
    retriever's top-``window``.

    Determinism: both rankings order by their emitted ROUNDED score
    with id tie-break, so ranks are engine-identical; the RRF sum is
    two exact double terms -> one shared float tree. Scale shape: each
    retriever already returns <= window driver-small rows, so the
    fusion join is trivially broadcast — the expensive parts are the
    retrievers themselves, which keep their own distributed plans."""
    from unichem2index_spark.operators.query import bm25_scores_from_corpus

    docs = t["documents"]
    bm = (
        bm25_scores_from_corpus(docs, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(window)
        .select("doc_id", F.round("score", 6).alias("s"))
    )
    wb = W.orderBy(F.desc("s"), F.asc("doc_id"))
    bm_ranked = bm.select("doc_id", F.row_number().over(wb).alias("rank_bm25"))

    emb = t["embeddings"].select("vec_id", _as_double("embedding").alias("v"))
    qv = emb.where(F.col("vec_id") == qvec_id).select(
        F.col("v").alias("qv")
    )
    scored = (
        emb.where(F.col("vec_id") != qvec_id)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (_norm(F.col("qv")) * _norm(F.col("v"))),
                6,
            ).alias("cosine"),
        )
    )
    # Distributed top-window first (TakeOrderedAndProject — per-partition
    # heaps, no global sort); the rank window then runs on <= window rows.
    kn_top = scored.orderBy(F.desc("cosine"), F.asc("doc_id")).limit(window)
    wk = W.orderBy(F.desc("cosine"), F.asc("doc_id"))
    kn_ranked = kn_top.select(
        "doc_id", F.row_number().over(wk).alias("rank_knn")
    )

    fused = bm_ranked.join(kn_ranked, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(float(rank_const)) + F.col("rank_bm25")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(rank_const)) + F.col("rank_knn")), F.lit(0.0)
    )
    return (
        fused.withColumn("rrf", rrf)
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id", "rank_bm25", "rank_knn", F.round("rrf", 6).alias("rrf")
        )
    )


def cosine_topk_sq(
    spark: SparkSession,
    t,
    n_queries: int = 5,
    k: int = 10,
    rerank: int = 30,
) -> DataFrame:
    """Approximate cosine top-k via int8 scalar quantization (the ES
    ``int8_hnsw``/FAISS-SQ8 memory-scale path): per-dimension min/max
    codebook, each float32 dim stored as one int8 code (4x smaller — the
    difference between an embedding index that fits executor memory at
    10^12 vectors and one that doesn't). Two-stage serve, FAISS-style
    asymmetric distance: stage 1 scores the exact float query against
    DEQUANTIZED corpus codes and keeps ``rerank`` candidates per query;
    stage 2 re-fetches the float vectors for those candidates only (a
    join by vec_id — the "raw vectors on cold storage" shape) and
    reranks exactly to the final k.

    Codebook training is one 64-row aggregate (per-dim min/max);
    quantize/dequantize are JVM array lambdas — no Python workers, no
    extra shuffle beyond the candidate re-fetch join. Approximate by
    design -> rows-only correctness + recall@k pytest vs the
    brute-force spine (8-bit SQ recall is near-1)."""
    emb = t["embeddings"].select("vec_id", _as_double("embedding").alias("v"))
    corpus = emb.where(F.col("vec_id") >= n_queries)

    mm = (
        corpus.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    lo = [0.0] * len(mm)
    span = [1.0] * len(mm)
    for r in mm:
        lo[r.dim] = float(r.lo)
        span[r.dim] = float(r.hi - r.lo) or 1.0
    lo_lit = F.array(*[F.lit(x) for x in lo])
    span_lit = F.array(*[F.lit(x) for x in span])

    centered = F.zip_with(F.col("v"), lo_lit, lambda x, l: x - l)
    code = F.zip_with(
        centered, span_lit,
        lambda c, s: (F.round(c / s * 255.0, 0) - 128.0).cast("int"),
    )
    codes = corpus.select("vec_id", code.alias("code"))
    dequant = F.zip_with(
        F.zip_with(
            F.col("code").cast("array<double>"), span_lit,
            lambda q, s: (q + 128.0) / 255.0 * s,
        ),
        lo_lit,
        lambda y, l: y + l,
    )

    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    approx = codes.select("vec_id", dequant.alias("vh")).crossJoin(
        F.broadcast(queries)
    ).select(
        "query_id",
        "vec_id",
        (
            _dot(F.col("qv"), F.col("vh"))
            / (_norm(F.col("qv")) * _norm(F.col("vh")))
        ).alias("acos"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("vec_id"))
    cands = (
        approx.withColumn("arank", F.row_number().over(w))
        .where(F.col("arank") <= rerank)
        .select("query_id", "vec_id")
    )

    exact = (
        cands.join(corpus, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (_norm(F.col("qv")) * _norm(F.col("v"))),
                6,
            ).alias("cosine"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


def linear_hybrid(
    spark: SparkSession,
    t,
    terms: list[str],
    qvec_id: int = 42,
    k: int = 10,
    window: int = 20,
    w_lex: float = 0.7,
    w_knn: float = 0.3,
) -> DataFrame:
    """ES `linear` retriever (8.16+): min-max normalize each retriever's
    top-``window`` scores to [0,1], then combine as a weighted sum —
    the score-aware alternative to :func:`rrf_hybrid` (RRF discards
    score magnitudes; linear keeps them). Normalization inputs are the
    retrievers' emitted ROUNDED scores (engine-identical), min/max are
    over <= window rows, absent-retriever contribution is 0 (ES
    semantics). Same scale shape as RRF: the retrievers keep their
    distributed plans, fusion touches <= 2*window rows."""
    from unichem2index_spark.operators.query import bm25_scores_from_corpus

    docs = t["documents"]
    bm = (
        bm25_scores_from_corpus(docs, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(window)
        .select("doc_id", F.round("score", 6).alias("s"))
    )
    wall = W.partitionBy()  # <= window rows: a global agg window is fine
    bm_n = bm.select(
        "doc_id",
        F.when(
            F.max("s").over(wall) == F.min("s").over(wall), F.lit(1.0)
        ).otherwise(
            (F.col("s") - F.min("s").over(wall))
            / (F.max("s").over(wall) - F.min("s").over(wall))
        ).alias("nl"),
    )

    emb = t["embeddings"].select("vec_id", _as_double("embedding").alias("v"))
    qv = emb.where(F.col("vec_id") == qvec_id).select(F.col("v").alias("qv"))
    scored = (
        emb.where(F.col("vec_id") != qvec_id)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (_norm(F.col("qv")) * _norm(F.col("v"))),
                6,
            ).alias("c"),
        )
        .orderBy(F.desc("c"), F.asc("doc_id"))
        .limit(window)
    )
    kn_n = scored.select(
        "doc_id",
        F.when(
            F.max("c").over(wall) == F.min("c").over(wall), F.lit(1.0)
        ).otherwise(
            (F.col("c") - F.min("c").over(wall))
            / (F.max("c").over(wall) - F.min("c").over(wall))
        ).alias("nk"),
    )

    fused = bm_n.join(kn_n, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.lit(float(w_lex)) * F.coalesce("nl", F.lit(0.0))
            + F.lit(float(w_knn)) * F.coalesce("nk", F.lit(0.0))
        ).alias("raw"),
    )
    return (
        fused.orderBy(F.desc("raw"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("raw", 6).alias("score"))
    )


def maxsim_topk(
    spark: SparkSession,
    t,
    qvec_id: int = 42,
    k: int = 10,
    n_sub: int = 4,
) -> DataFrame:
    """ColBERT-style LATE-INTERACTION retrieval (ES 8.16 `rank_vectors`
    maxsim): documents are multi-vector — here each 64-d embedding is
    read as ``n_sub`` contiguous sub-vectors, the fixture's multi-vector
    analog — and ``score(q, d) = Σ_i max_j cos(q_i, d_j)``: every query
    sub-vector picks its best-matching doc sub-vector. All JVM array
    lambdas over one broadcast of the query's sub-vectors; per-pair
    cosines are rounded at 6 dp BEFORE the max/sum (the engine-identity
    boundary), so ranking is bit-stable across engines. Brute-force
    corpus pass = the exact baseline; the scale path composes with the
    same candidate generators as single-vector search (LSH/IVF/SQ pick
    candidates on the MEAN vector, maxsim reranks)."""
    emb = t["embeddings"].select("vec_id", _as_double("embedding").alias("v"))
    qv = emb.where(F.col("vec_id") == qvec_id).select(F.col("v").alias("qv"))
    corpus = emb.where(F.col("vec_id") != qvec_id).crossJoin(F.broadcast(qv))
    dim = 64 // n_sub

    def sub(col, i):
        return F.slice(col, i * dim + 1, dim)

    def cos(a, b):
        return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)

    score = None
    for i in range(n_sub):
        best = F.greatest(
            *[cos(sub(F.col("qv"), i), sub(F.col("v"), j)) for j in range(n_sub)]
        )
        score = best if score is None else score + best
    return (
        corpus.select("vec_id", score.alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("maxsim", 6).alias("maxsim"))
    )


def cosine_radius(
    spark: SparkSession,
    t,
    n_queries: int = 5,
    min_cosine: float = 0.35,
) -> DataFrame:
    """ES kNN `similarity` threshold / radius search: ALL neighbors with
    cosine >= the floor, not a fixed k — the dedup/recall shape ("give
    me everything close enough") where a top-k would silently truncate.
    Same broadcast-queries brute plan as cosine_topk; the threshold
    prunes the emit, so the output is |matches|, never |corpus|."""
    emb = t["embeddings"].select("vec_id", _as_double("embedding").alias("v"))
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    corpus = emb.where(F.col("vec_id") >= n_queries)
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("qv"), F.col("v")) / (_norm(F.col("qv")) * _norm(F.col("v"))),
            6,
        ).alias("cosine"),
    )
    return (
        scored.where(F.col("cosine") >= min_cosine)
        .orderBy("query_id", F.desc("cosine"), F.asc("vec_id"))
    )


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ks: int = 16,
    n_iters: int = 3,
    sample_stride: int = 1,
) -> list[list[list[float]]]:
    """PQ codebook training (FAISS ``ProductQuantizer.train`` shape):
    split the dim axis into ``m`` subspaces and run k-means with ``ks``
    centroids INSIDE each subspace, on a deterministic bounded corpus
    sample (``vec_id % stride == 0`` — like the IVF quantizer, training
    never sees the full corpus; the sample is a few thousand rows at ANY
    scale, so the driver-side numpy Lloyd loop is bounded by
    construction). Init = the ``ks`` lowest-vec_id sample subvectors;
    empty clusters keep their previous centroid. Returns
    ``[sub][centroid][dim]`` floats — m x ks x (dim/m), broadcast-sized
    (for 64-dim/8x16: 1 KiB)."""
    import numpy as np

    rows = (
        emb.where((F.col("vec_id") % sample_stride) == 0)
        .orderBy("vec_id")
        .collect()
    )
    X = np.array([list(r.v) for r in rows], dtype=np.float64)
    dim = X.shape[1]
    dsub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        C = Xs[:ks].copy()
        for _ in range(n_iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for j in range(ks):
                sel = Xs[a == j]
                if len(sel):
                    C[j] = sel.mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def cosine_topk_pq(
    spark: SparkSession,
    t,
    n_queries: int = 5,
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    rerank: int = 50,
) -> DataFrame:
    """Approximate cosine top-k via PRODUCT QUANTIZATION with
    asymmetric-distance (ADC) scoring — the FAISS PQ/IVF-PQ memory-scale
    workhorse (Jegou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"): each vector stores only ``m`` 4-bit codes
    (64-dim float32 256 B -> 4 B, 64x — the compression that puts 10^12
    vectors in cluster memory where SQ8's 4x cannot).

    ADC is the part worth copying: because subspaces are orthogonal,
    ``dot(q, vhat) = sum_sub LUT_dot[sub][code]`` and ``|vhat|^2 =
    sum_sub LUT_norm[sub][code]`` — so scoring a corpus row is m array
    lookups + adds, never a reconstruction. LUT_norm is a global
    literal from the codebooks; LUT_dot is computed per query AS A
    COLUMN (one transform over the codebook literal), so the whole
    scoring pass is JVM expressions over the codes frame with the tiny
    query+LUT frame broadcast — no Python workers, no shuffle beyond
    the final per-query top-k. Stage 2 re-fetches floats for the
    ``rerank`` ADC survivors only and reranks exactly (the SQ8
    two-stage contract). Encoding is a map-side argmin over the
    codebook literal (one scan). Approximate by design -> rows-only
    correctness + recall@k pytest vs the brute-force spine."""
    emb = t["embeddings"].select("vec_id", _as_double("embedding").alias("v"))
    corpus = emb.where(F.col("vec_id") >= n_queries)
    n_corpus = corpus.count()
    stride = max(1, n_corpus // 4000)
    books = train_pq_codebooks(
        corpus, m=m, ks=ks, sample_stride=stride
    )
    dsub = len(books[0][0])

    # codebook literal: array of per-sub struct(off, cents=array<array>)
    book_lit = F.array(*[
        F.struct(
            F.lit(s * dsub).alias("off"),
            F.array(*[
                F.array(*[F.lit(x) for x in c]) for c in books[s]
            ]).alias("cents"),
        )
        for s in range(m)
    ])
    # ||c||^2 LUT (global literal, m x ks)
    lut_norm = F.array(*[
        F.array(*[
            F.lit(sum(x * x for x in c)) for c in books[s]
        ])
        for s in range(m)
    ])

    def _sub_dist(sub_v, c):
        return F.aggregate(
            F.zip_with(sub_v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    # encode: per subspace, argmin over centroids (struct array_min)
    code = F.transform(
        book_lit,
        lambda b: F.array_min(
            F.transform(
                b["cents"],
                lambda c, j: F.struct(
                    _sub_dist(
                        F.slice(F.col("v"), b["off"] + 1, dsub), c
                    ).alias("d"),
                    j.alias("j"),
                ),
            )
        )["j"],
    )
    codes = corpus.select("vec_id", code.alias("code"))

    # per-query dot LUT: m x ks of dot(q_sub, centroid)
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    lut_dot = F.transform(
        book_lit,
        lambda b: F.transform(
            b["cents"],
            lambda c: _dot(F.slice(F.col("qv"), b["off"] + 1, dsub), c),
        ),
    )
    q_lut = queries.select(
        "query_id", "qv", lut_dot.alias("lut"), _norm(F.col("qv")).alias("qn")
    )

    def _lut_sum(lut_col):
        return F.aggregate(
            F.zip_with(
                F.col("code"), lut_col,
                lambda cd, l: F.element_at(l, cd + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    approx = codes.crossJoin(F.broadcast(q_lut)).select(
        "query_id",
        "vec_id",
        (
            _lut_sum(F.col("lut"))
            / (F.col("qn") * F.sqrt(_lut_sum(lut_norm)))
        ).alias("acos"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("vec_id"))
    cands = (
        approx.withColumn("arank", F.row_number().over(w))
        .where(F.col("arank") <= rerank)
        .select("query_id", "vec_id")
    )
    exact = (
        cands.join(corpus, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (_norm(F.col("qv")) * _norm(F.col("v"))),
                6,
            ).alias("cosine"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


def rocchio_knn(
    spark: SparkSession,
    t,
    terms: list[str],
    fb_k: int = 5,
    k: int = 10,
) -> DataFrame:
    """Dense-retrieval relevance feedback (Rocchio in embedding space):
    take the BM25 top-``fb_k`` docs as positive feedback, form the
    CENTROID of their embedding vectors as the updated query, and
    return the cosine top-``k`` of the rest of the corpus - the
    lexical-to-dense feedback loop modern hybrid stacks run when the
    text query underspecifies the information need (doc_id == vec_id,
    the fixture's one-doc-two-fields shape shared with rrf_hybrid).

    Float discipline: the centroid is a per-dimension fold over the
    feedback vectors SORTED BY vec_id (same doubles, same order, both
    engines), divided once by the literal fb count; cosine reuses the
    repo's ordered dot/norm folds and rounds at emit with vec_id
    tie-break. Scale shape: the centroid is ONE driver-small row
    broadcast into a map-side scoring scan + TakeOrdered - the
    expensive part stays the single corpus pass every brute-force kNN
    needs, and the IVF/LSH variants plug in unchanged for the probe
    stage."""
    from unichem2index_spark.operators.query import (
        bm25_scores_from_corpus,
    )

    fb = (
        bm25_scores_from_corpus(t["documents"], terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(fb_k)
        .select(F.col("doc_id").alias("vec_id"))
    )
    emb = t["embeddings"].select(
        "vec_id", _as_double("embedding").alias("v")
    )
    fbv = emb.join(F.broadcast(fb), "vec_id")
    dim = 64
    cent = fbv.agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "v"))).alias("vl")
    ).select(
        F.expr(
            f"""transform(sequence(1, {dim}), d ->
              aggregate(vl, 0D,
                        (acc, x) -> acc + element_at(x.v, d))
              / {fb_k}.0)"""
        ).alias("c")
    )
    corpus = emb.join(F.broadcast(fb), "vec_id", "left_anti")
    scored = corpus.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.round(
            _dot(F.col("c"), F.col("v"))
            / (_norm(F.col("c")) * _norm(F.col("v"))),
            6,
        ).alias("cosine"),
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.desc("cosine"), F.asc("vec_id"))
            ),
        )
        .select("rank", "vec_id", "cosine")
    )


# MMR: lambda and (1-lambda) are SEPARATE literals — Python's
# 1.0 - 0.7 is 0.30000000000000004, not the double both engines parse
# from the literal '0.3'; computing the complement would diverge.
MMR_LAMBDA = 0.7
MMR_BETA = 0.3
MMR_CAND = 30
MMR_K = 10


def mmr_rerank(
    spark: SparkSession,
    t,
    k: int = MMR_K,
    n_cand: int = MMR_CAND,
) -> DataFrame:
    """Maximal Marginal Relevance diversified reranking (Carbonell &
    Goldstein SIGIR'98): greedily pick k of the top-``n_cand`` cosine
    candidates, each step maximizing lambda*rel(c) -
    beta*max_{s in S} sim(c, s) — relevance traded against redundancy,
    the standard result-diversification pass after dense retrieval
    (and the de-dup stage of RAG context packing). Query = vec_id 0,
    corpus = vec_id >= 5, the repo's embedding-entry convention.

    Determinism/scale shape: the distributed work is the exact cosine
    top-n_cand scan (the audited brute-force plan) plus one n_cand^2
    broadcast self-join for the candidate sim matrix — both emit
    ROUND-6 doubles. The greedy argmax loop is driver-side over those
    <= n_cand^2 collected rounded values (bounded, like every <=k
    candidate frame in this file) and decides ONLY the integer pick
    order; both engines compare the same doubles built from the same
    literals, so the order matches the oracle's recursive-CTE argmax
    bit-for-bit. The EMITTED mmr column is then computed back in
    Spark (join selection -> rel/sim frames, F.round) so no Python
    rounding enters the result."""
    emb = t["embeddings"].select(
        "vec_id", _as_double("embedding").alias("v")
    )
    q = emb.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = (
        emb.where(F.col("vec_id") >= 5)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (_norm(F.col("qv")) * _norm(F.col("v"))),
                6,
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(n_cand)
    )
    cand = cand.persist()
    sim = (
        cand.alias("a")
        .join(
            F.broadcast(cand.select("vec_id", "v").alias("b")),
            F.col("a.vec_id") != F.col("b.vec_id"),
        )
        .select(
            F.col("a.vec_id").alias("ca"),
            F.col("b.vec_id").alias("cb"),
            F.round(
                _dot(F.col("a.v"), F.col("b.v"))
                / (_norm(F.col("a.v")) * _norm(F.col("b.v"))),
                6,
            ).alias("sim"),
        )
    )
    rel = {r.vec_id: r.rel for r in cand.select("vec_id", "rel").collect()}
    sims = {(r.ca, r.cb): r.sim for r in sim.collect()}
    picked: list[int] = []
    while len(picked) < min(k, len(rel)):
        best = None
        for c in rel:
            if c in picked:
                continue
            ms = max((sims[(c, s)] for s in picked), default=0.0)
            obj = MMR_LAMBDA * rel[c] - MMR_BETA * ms
            key = (-obj, c)
            if best is None or key < best:
                best = key
        picked.append(best[1])
    sel = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(picked)], "rank long, vec_id long"
    )
    simf = sim.withColumnRenamed("ca", "vec_id")
    prev = sel.select(
        F.col("rank").alias("prk"), F.col("vec_id").alias("cb")
    )
    maxsim = (
        sel.crossJoin(prev)
        .where(F.col("prk") < F.col("rank"))
        .join(simf, ["vec_id", "cb"])
        .groupBy("rank", "vec_id")
        .agg(F.max("sim").alias("ms"))
    )
    out = (
        sel.join(maxsim.select("rank", "ms"), "rank", "left")
        .join(cand.select("vec_id", "rel"), "vec_id")
        .select(
            "rank",
            "vec_id",
            F.round(
                F.lit(MMR_LAMBDA) * F.col("rel")
                - F.lit(MMR_BETA) * F.coalesce("ms", F.lit(0.0)),
                6,
            ).alias("mmr"),
        )
        .orderBy("rank")
    )
    return out


NORM_TOL = 0.01  # |norm - 1| above this counts as unnormalized


def embedding_qa(spark: SparkSession, t) -> DataFrame:
    """Embedding-table QA audit — the sanity pass every ANN build
    runs BEFORE indexing (FAISS's own docs open with it): per label
    partition, vector count, dimensionality, the norm distribution
    (mean/min/max), and how many vectors are not unit-normalized —
    cosine indexes silently degrade to dot-product rankings when
    norms drift, and zero vectors poison IVF training. This is the
    gate that decides whether the pipeline normalizes before
    :func:`cosine_topk_ivf` / :func:`cosine_topk_sq` run.

    Exactness: each norm is sqrt of the same sequential array fold
    both engines use for dot products (the cosine_topk idiom);
    per-label avgs round(6).

    Scale shape: map-only per-vector arithmetic + one
    label-cardinality agg — one scan at any corpus size."""
    emb = t["embeddings"].select(
        "label", F.size("embedding").alias("dim"),
        _norm(_as_double("embedding")).alias("nrm"),
    )
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.max("dim").cast("long").alias("dim"),
            F.round(F.avg("nrm"), 6).alias("mean_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.sum(
                (F.abs(F.col("nrm") - F.lit(1.0)) > NORM_TOL).cast("long")
            ).cast("long").alias("n_unnormalized"),
            F.sum((F.col("nrm") == 0.0).cast("long")).cast("long").alias(
                "n_zero"
            ),
        )
        .orderBy("label")
    )


PURITY_QUERIES = 5
PURITY_K = 10


def knn_label_purity(
    spark: SparkSession,
    t,
    n_queries: int = PURITY_QUERIES,
    k: int = PURITY_K,
) -> DataFrame:
    """kNN label-purity evaluation (the ann-benchmarks-style quality
    proxy when no judgments exist: if embeddings encode classes, a
    query's neighbors should share its label): for each query vector,
    the exact cosine top-k over the rest of the table, and the
    fraction carrying the query's own label. The go/no-go number for
    trusting an embedding space BEFORE building the ANN index over it
    (embedding_qa checks geometry; this checks semantics). On THIS
    synthetic corpus the labels are random with respect to the
    vectors, so purity reports ~the 1/n_labels base rate — the "do
    not use these labels as ANN ground truth" outcome, which is
    precisely what the audit exists to catch.

    Exactness: cosine reuses the fold-based dot/norm idiom
    (bit-identical cross-engine); purity is one integer ratio,
    round(6).

    Scale shape: the brute-force leg IS the audited cosine_topk plan
    (broadcast queries, one corpus pass); purity aggregates k-row
    frames."""
    emb = t["embeddings"].select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    corpus = emb.where(F.col("vec_id") >= n_queries)
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "qlabel",
        "vec_id",
        "label",
        (
            _dot(F.col("qv"), F.col("v"))
            / (_norm(F.col("qv")) * _norm(F.col("v")))
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    return (
        topk.groupBy("query_id", "qlabel")
        .agg(
            F.sum(
                (F.col("label") == F.col("qlabel")).cast("long")
            ).cast("long").alias("n_same"),
        )
        .select(
            "query_id",
            F.col("qlabel").cast("long").alias("qlabel"),
            "n_same",
            F.round(
                F.col("n_same").cast("double") / F.lit(float(k)), 6
            ).alias("purity"),
        )
        .orderBy("query_id")
    )

"""spark-submit job: the fused training-data CLEANUP pass over webtext —
quality-filter signals (token count, mean token length, duplicate
3-gram ratio, stopword hits), repetition-collapse savings, and the
keep/drop verdict — ONE Arrow-batched mapInPandas scan + one tiny
global aggregate.

Why mapInPandas and not Catalyst array expressions: higher-order array
functions are interpreted (not whole-stage-codegen'd), and the nested
trigram transform measured 23x slower than the python-loop equivalent
(50.4 s vs 2.2 s per 200k docs on local[8], identical results). The
oracle-checked per-op forms live in operators/trainprep.py
(`dup_ngram_ratio`, `quality_filter`), hash-checked against their DuckDB
oracles. Used by scripts/run_cleanup_scaling.py.
"""

from __future__ import annotations

import argparse
import json
import time

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

STOPS = frozenset(["the", "a", "of", "and", "is"])


def signals(batches):
    for pdf in batches:
        out = {"keep": [], "n_tokens": [], "n_collapsed": []}
        for text in pdf["text"]:
            t = text.lower().split(" ")
            n = len(t)
            ng = max(n - 2, 0)
            nd = len(set(zip(t, t[1:], t[2:]))) if ng else 0
            dup = 1.0 - nd / ng if ng else 0.0
            chars = sum(len(x) for x in t)
            mean_len = chars / max(n, 1)
            stops = sum(1 for x in t if x in STOPS)
            collapsed = sum(1 for i in range(1, n) if t[i] == t[i - 1])
            keep = (
                15 <= n <= 5000
                and 2.0 <= mean_len <= 10.0
                and dup <= 0.05
                and stops >= 1
            )
            out["keep"].append(keep)
            out["n_tokens"].append(n)
            out["n_collapsed"].append(collapsed)
        yield pd.DataFrame(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("cleanup-job").getOrCreate()
    t0 = time.time()
    docs = spark.read.parquet(args.input).select("text")
    out = docs.mapInPandas(
        signals, "keep boolean, n_tokens long, n_collapsed long"
    ).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_collapsed").alias("collapsed"),
    )
    row = out.collect()[0]
    elapsed = time.time() - t0
    print(
        json.dumps(
            {
                "docs": row.docs,
                "kept": row.kept,
                "tokens": int(row.tokens),
                "collapsed": int(row.collapsed),
                "elapsed_sec": round(elapsed, 2),
                "docs_per_sec": round(row.docs / elapsed, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

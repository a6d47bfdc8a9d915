"""The session's Python worker entry point: conf wiring and its effect.

Spark's worker calls ``importlib.invalidate_caches()`` per task, and on
CPython 3.11 every cached zipimporter then re-reads pyspark.zip's central
directory. ``pyspark_u2i_worker`` drops those importers before each task.
"""

from __future__ import annotations

import os

import pandas as pd

import unichem2index_spark
from unichem2index_spark.session import WORKER_MODULE, worker_module_for


def _zipimporters_at_udf_start(spark) -> tuple[int, int]:
    """(worker pid, zipimporters cached when the UDF starts) of one task."""

    def count(pdf: pd.DataFrame) -> pd.DataFrame:
        import sys
        import zipimport

        n = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return pd.DataFrame({"pid": [os.getpid()], "n": [n]})

    df = spark.range(1).groupBy("id").applyInPandas(count, "pid long, n long")
    row = df.collect()[0]
    return row["pid"], row["n"]


def test_session_sets_worker_module(spark):
    assert spark.conf.get("spark.python.worker.module") == WORKER_MODULE


def test_worker_starts_udf_without_zipimporters(spark):
    # A worker's first pandas UDF imports modules and so caches importers;
    # the check is on a warm worker, i.e. the first one to serve a second
    # call (the next call may go to another idle worker of the pool).
    seen = set()
    for _ in range(10):
        pid, n = _zipimporters_at_udf_start(spark)
        if pid in seen:
            assert n == 0
            return
        seen.add(pid)
    raise AssertionError(f"no Python worker served two calls: {sorted(seen)}")


def test_worker_module_decision_follows_package_file():
    assert worker_module_for(unichem2index_spark.__file__) == WORKER_MODULE
    zipped = os.path.join(
        "dist", "unichem2index_spark.zip", "unichem2index_spark", "__init__.py"
    )
    assert worker_module_for(zipped) is None

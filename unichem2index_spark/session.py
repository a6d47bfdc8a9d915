"""SparkSession factory with the settings this engine assumes.

Local-mode testing stand-in for a multi-executor cluster; every knob here is
also correct on a real cluster (AQE, Arrow, sane shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import unichem2index_spark

WORKER_MODULE = "pyspark_u2i_worker"


def worker_module_for(package_file: str) -> str | None:
    """The ``spark.python.worker.module`` to use when this package was
    imported from ``package_file``: the module beside the package directory,
    or None (Spark's default worker) when there is none, e.g. when the
    package came from a ``--py-files`` zip."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(package_file)))
    if os.path.isfile(os.path.join(root, WORKER_MODULE + ".py")):
        return WORKER_MODULE
    return None


def get_spark(
    app_name: str = "unichem2index_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # local[N] → match shuffle partitions to cores; on a real cluster this
    # would be ~2-3x total executor cores and AQE coalesces the rest.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing targets max(totalBytes/parallelism,
        # minPartitionSize). The 1m default floor folds KB-sized shuffles
        # into ONE partition, so a Python stage whose rows are tiny but
        # cost much per row runs on one core; 16k keeps such stages at
        # ~cores partitions and leaves large shuffles alone (their target
        # is totalBytes/parallelism either way). The build merge, for which
        # the floor was set, no longer needs it: with one Python call per
        # Arrow batch (build.map_term_groups) the perfbench merge over
        # cached runs (seed 1, local[2] on a 4-core host) took 0.42-0.53 s
        # on 3 tasks at 16k and 0.44-0.48 s on 1 task at 1m (one call per
        # group: 6.7 s vs 11.5-13.8 s). It stays
        # for the remaining per-group kernels (groupBy + applyInPandas on
        # the query path, trainprep's pack), not re-measured.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # The build persists the extracted corpus and the tokenized corpus
        # DISK_ONLY (see build.py / ingest.py); Spark does NOT compress RDD
        # persist blocks by default, so those are full-corpus uncompressed
        # writes to spark.local.dir. lz4 cuts that I/O ~3-5x for text —
        # disk bandwidth is the resource a single host CAN'T scale with
        # parallelism (a real cluster adds disks with executors).
        .config("spark.rdd.compress", "true")
        .config("spark.ui.enabled", "false")
    )
    # Spark's worker calls importlib.invalidate_caches() on every task, and
    # on CPython 3.11 each of a worker's ~16 cached zipimporters then
    # re-reads pyspark.zip's 1328-entry central directory: ~220 ms of worker
    # CPU per task before the UDF starts. The entry point in
    # pyspark_u2i_worker.py drops those importers first. Measured on 4
    # cores, local[2], over a cached 2-partition frame: task launch -> UDF
    # start of a no-op mapInPandas went from 241-335 to 20-24 ms, and the
    # whole call from 321-495 to 163-185 ms (p50s of three runs each).
    # The Python daemon imports the module from the same base path its
    # workers import this package from, so it is set only when the module
    # sits beside the package directory; packages shipped with --py-files
    # keep the default.
    worker_module = worker_module_for(unichem2index_spark.__file__)
    if worker_module:
        builder = builder.config("spark.python.worker.module", worker_module)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

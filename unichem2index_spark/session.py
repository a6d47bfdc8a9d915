"""SparkSession factory with the settings this engine assumes.

Local-mode testing stand-in for a multi-executor cluster; every knob here is
also correct on a real cluster (AQE, Arrow, sane shuffle partitioning, and
Unix domain sockets to the Python workers: an executor and its workers share
a host).
"""

from __future__ import annotations

import os
import stat
import tempfile

from pyspark.sql import SparkSession

import unichem2index_spark

WORKER_MODULE = "pyspark_u2i_worker"

# Linux caps an AF_UNIX path at 107 bytes (sun_path is 108 with the NUL),
# and Spark names each socket "<dir>/.<uuid4>.sock": the directory plus 43.
MAX_SOCKET_PATH = 107
SOCKET_NAME_BYTES = 43


def _package_root(package_file: str) -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(package_file)))


def worker_module_for(package_file: str) -> str | None:
    """The ``spark.python.worker.module`` to use when this package was
    imported from ``package_file``: the module beside the package directory,
    or None (Spark's default worker) when there is none, e.g. when the
    package came from a ``--py-files`` zip."""
    if os.path.isfile(os.path.join(_package_root(package_file), WORKER_MODULE + ".py")):
        return WORKER_MODULE
    return None


def unix_socket_dir(tmp: str) -> str:
    """The directory for the Python workers' Unix domain sockets: ``tmp``
    when its socket paths fit in 107 bytes, else ``/tmp/u2i-<uid>``."""
    if len(os.fsencode(tmp)) + SOCKET_NAME_BYTES <= MAX_SOCKET_PATH:
        return tmp
    return f"/tmp/u2i-{os.getuid()}"


def _private_dir(path: str) -> None:
    """Make ``path`` a directory only this user can enter (mode 0700), or
    fail if it exists and is not: a socket in it accepts any process that
    can reach it, and Spark authenticates Unix domain sockets by path alone."""
    os.makedirs(path, mode=0o700, exist_ok=True)
    st = os.lstat(path)
    if (
        not stat.S_ISDIR(st.st_mode)
        or st.st_uid != os.getuid()
        or st.st_mode & 0o077
    ):
        raise PermissionError(
            f"{path} must be a directory owned by uid {os.getuid()} with "
            "mode 0700 to hold the Python workers' sockets"
        )


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
        # for the remaining per-group kernels (groupBy + applyInArrow on
        # the query path, trainprep's applyInPandas pack), not re-measured.
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
    # It is set only when the module sits beside the package directory
    # (packages shipped with --py-files keep the default), and then that
    # directory goes on the workers' PYTHONPATH, which Spark merges with the
    # environment's: the Python daemon imports the module from its own path,
    # so a driver started from another working directory without PYTHONPATH
    # failed every Python task with ModuleNotFoundError.
    worker_module = worker_module_for(unichem2index_spark.__file__)
    if worker_module:
        builder = builder.config("spark.python.worker.module", worker_module).config(
            "spark.executorEnv.PYTHONPATH", _package_root(unichem2index_spark.__file__)
        )
    # Each Python task talks to its worker over a socket. Over loopback TCP a
    # worker waited a steady ~43 ms for its first Arrow batch while the UDF
    # itself took ~0.1 ms (a delayed-ACK stall is the guess, not verified);
    # a Unix domain socket cuts the Python round trip and leaves the JVM
    # alone. No-op groupBy("shard").applyInPandas over a cached 2-partition
    # frame, p50 of 30 warm calls, local[2] on a shared 4-core host (load
    # 1.6-3.6):
    #
    #   session                          TCP          Unix socket
    #   perfbench's isolate()            160 ms       122 ms
    #   plain, 4 runs per side           118-128 ms   83-100 ms
    #   JVM-only collect() of the frame  29-32 ms     32-34 ms
    #
    # A socket path must fit in 107 bytes; Spark's default directory is
    # java.io.tmpdir, where a 76-character directory failed session start
    # with "AF_UNIX path too long". unix_socket_dir keeps the temp directory
    # when it fits and otherwise uses a short private one, so a long TMPDIR
    # never silently puts the session back on TCP. The directory is set for
    # local masters only, whose workers run on this host; a cluster's
    # executors use their own java.io.tmpdir, which exists on their host.
    builder = builder.config("spark.python.unix.domain.socket.enabled", "true")
    if master.startswith("local"):
        tmp = tempfile.gettempdir()
        sock_dir = unix_socket_dir(tmp)
        if sock_dir != tmp:
            _private_dir(sock_dir)
        builder = builder.config("spark.python.unix.domain.socket.dir", sock_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""The session's Python workers: entry point, sockets and their effect.

Spark's worker calls ``importlib.invalidate_caches()`` per task, and on
CPython 3.11 every cached zipimporter then re-reads pyspark.zip's central
directory. ``pyspark_u2i_worker`` drops those importers before each task,
and the workers find it from any working directory.

Each task talks to its worker over a Unix domain socket, whose path must
fit in 107 bytes whatever the temp directory is.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd

import unichem2index_spark
from unichem2index_spark.session import (
    MAX_SOCKET_PATH,
    SOCKET_NAME_BYTES,
    WORKER_MODULE,
    unix_socket_dir,
    worker_module_for,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(unichem2index_spark.__file__)))

# A fresh session in its own process runs one pandas UDF.
UDF_SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from unichem2index_spark.session import get_spark
spark = get_spark("subprocess", master="local[1]", shuffle_partitions=1)
df = spark.range(3).mapInPandas(lambda it: (p * 2 for p in it), "id long")
print("IDS", sorted(r.id for r in df.collect()))
spark.stop()
"""


def _run_udf_session(cwd, env) -> None:
    env = {k: v for k, v in env.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", UDF_SCRIPT],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "IDS [0, 2, 4]" in out.stdout, out.stderr[-3000:]


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


def test_session_uses_unix_domain_sockets(spark):
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
    assert os.path.isdir(sock_dir)
    assert len(os.fsencode(sock_dir)) + SOCKET_NAME_BYTES <= MAX_SOCKET_PATH


def test_unix_socket_dir_keeps_a_short_tmpdir_and_shortens_a_long_one():
    assert unix_socket_dir("/tmp") == "/tmp"
    fits = "/" + "t" * (MAX_SOCKET_PATH - SOCKET_NAME_BYTES - 1)
    assert unix_socket_dir(fits) == fits
    long_dir = "/" + "t" * 69
    short = unix_socket_dir(long_dir)
    assert short != long_dir
    assert len(short) + SOCKET_NAME_BYTES <= MAX_SOCKET_PATH


def test_workers_find_the_worker_module_from_any_cwd(tmp_path):
    _run_udf_session(tmp_path, dict(os.environ))


def test_session_with_a_long_tmpdir_runs_a_pandas_udf(tmp_path):
    # 76 characters: Spark's default socket path would be 119 bytes
    pad = max(1, 76 - len(str(tmp_path)) - 1)
    long_tmp = tmp_path / ("d" * pad)
    long_tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(long_tmp))
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={long_tmp} pyspark-shell"
    )
    _run_udf_session(tmp_path, env)

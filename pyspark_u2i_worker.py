"""Python worker entry point that skips the per-task rescan of pyspark.zip.

``pyspark.worker.main`` calls ``setup_spark_files`` for every task, and that
calls ``importlib.invalidate_caches()``. On CPython 3.11,
``zipimporter.invalidate_caches`` eagerly re-reads the whole central
directory of its archive. A worker that imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1328 entries) holds about 16 cached
zipimporters, one per pyspark subpackage, so each task re-read that
directory ~16 times: about 220 ms of worker CPU before the UDF started, on
a 4-core host with local[2].

``main`` drops the cached zipimporters from ``sys.path_importer_cache``
first, so ``invalidate_caches()`` finds none to refresh. Import behaviour is
unchanged: the next import from the zip builds a fresh importer from
``zipimport._zip_directory_cache``, without reading the file.

The name starts with ``pyspark`` because ``pyspark/daemon.py`` only imports
a custom ``spark.python.worker.module`` whose name does. It is meant only
for the forking daemon (``spark.python.use.daemon``, on by default and left
so by ``session.get_spark``). With ``spark.python.use.daemon=false`` Spark
launches ``python -m <worker module>`` directly, and this module has no
``__main__`` block to serve that.
"""

import sys
import zipimport

from pyspark import worker


def main(infile, outfile):
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    worker.main(infile, outfile)

"""Python-worker daemon for local sessions: the stock ``pyspark.daemon``
minus the per-task re-read of Spark's own zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, and CPython's ``zipimporter.invalidate_caches`` re-reads the whole
archive directory. Each imported package inside ``pyspark.zip``, the
py4j zip and the spark-core jar has its own importer, so a task rescans
tens of thousands of zip entries before running any engine code. Those
archives never change under a running worker, so their importers skip
the re-read; every other archive (``addPyFile`` zips) is still re-read.
"""

import os
import runpy
import zipimport

_home = os.environ.get("SPARK_HOME")
_SPARK_HOME = os.path.realpath(_home) + os.sep if _home else None
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    archive = os.path.realpath(self.archive)
    if _SPARK_HOME is None or not archive.startswith(_SPARK_HOME):
        _reread(self)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

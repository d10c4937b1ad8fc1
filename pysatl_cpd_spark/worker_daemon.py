"""Spark's Python daemon, started with Spark's own archives off ``sys.path``.

The JVM puts ``pyspark.zip``, ``py4j-*.zip`` and the spark-core jar ahead of
site-packages on every Python worker's ``sys.path``, so workers import pyspark
through ``zipimport``. PySpark calls ``importlib.invalidate_caches()`` once per
task, and on CPython 3.11 every zipimporter then re-reads its archive's whole
central directory. When the installed pyspark is the same release as the
archive, this daemon drops the archives before it imports ``pyspark.daemon``,
and the workers it forks inherit the clean path. ``get_spark()`` names this
module in ``spark.python.daemon.module`` for local masters.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder

# the entries Spark's PythonUtils.sparkPythonPath adds; other jars on the
# path may carry Python modules that workers need
SPARK_ARCHIVES = ("pyspark.zip", "py4j-*.zip", "spark-core_*.jar")


def strip_spark_archives(path: list[str], importer_cache: dict) -> bool:
    """Remove Spark's archives from ``path`` and their importers from
    ``importer_cache``, in place, and return whether anything was removed.

    Both are left as they are unless ``pyspark`` and ``py4j`` import from the
    remaining entries and that ``pyspark``'s ``version.py`` is byte-equal to
    the copy in every ``pyspark.zip`` on ``path``.
    """
    archives = [
        p
        for p in path
        if any(fnmatch.fnmatch(os.path.basename(p), pat) for pat in SPARK_ARCHIVES)
    ]
    rest = [p for p in path if p not in archives]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    pyspark = PathFinder.find_spec("pyspark", rest)
    if (
        not zips
        or pyspark is None
        or pyspark.origin is None
        or PathFinder.find_spec("py4j", rest) is None
    ):
        return False
    try:
        with open(os.path.join(os.path.dirname(pyspark.origin), "version.py"), "rb") as fh:
            installed = fh.read()
        for archive in zips:
            with zipfile.ZipFile(archive) as zf:
                if zf.read("pyspark/version.py") != installed:
                    return False
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    path[:] = rest
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]
    return True


if __name__ == "__main__":
    strip_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()

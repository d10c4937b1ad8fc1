"""Python workers import pyspark from site-packages, not from Spark's archives.

The guard tests build a fake Spark layout in a temporary directory: an
installed ``pyspark``/``py4j`` next to ``pyspark.zip``, ``py4j-*-src.zip`` and
a jar. The worker-side test checks the real daemon on the test session.
"""

import os
import sys
import zipfile

import pyarrow as pa
import pytest

from pysatl_cpd_spark.session import default_driver_memory
from pysatl_cpd_spark.worker_daemon import strip_spark_archives

VERSION = b'__version__: str = "4.1.2"\n'


def _layout(tmp_path, zip_version=VERSION, installed=("pyspark", "py4j")):
    site = tmp_path / "site-packages"
    for pkg in installed:
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    if "pyspark" in installed:
        (site / "pyspark" / "version.py").write_bytes(VERSION)
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", zip_version)
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    jar = tmp_path / "spark-core_2.13-4.1.2.jar"
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("org/apache/spark/SparkContext.class", b"")
    kept = [str(site), str(tmp_path / "user-python.jar")]
    path = [str(pyspark_zip), str(py4j_zip), str(jar)] + kept
    cache = {p: object() for p in path}
    cache[os.path.join(str(pyspark_zip), "pyspark")] = object()
    return path, cache, kept


def test_archives_removed_when_versions_match(tmp_path):
    path, cache, kept = _layout(tmp_path)
    assert strip_spark_archives(path, cache)
    assert path == kept
    assert list(cache) == kept


def test_path_untouched_when_versions_differ(tmp_path):
    path, cache, _ = _layout(tmp_path, zip_version=b'__version__ = "4.0.0"\n')
    before, cache_before = list(path), dict(cache)
    assert not strip_spark_archives(path, cache)
    assert path == before and cache == cache_before


@pytest.mark.parametrize("installed", [("py4j",), ("pyspark",)])
def test_path_untouched_when_not_importable_without_archives(tmp_path, installed):
    path, cache, _ = _layout(tmp_path, installed=installed)
    before, cache_before = list(path), dict(cache)
    assert not strip_spark_archives(path, cache)
    assert path == before and cache == cache_before


def test_workers_import_pyspark_outside_archives(spark):
    # nested, so cloudpickle ships it by value: workers cannot import tests/
    def worker_imports(batches):
        import zipimport

        import pyspark

        for _ in batches:
            pass
        zipimporters = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pylist(
            [{"pyspark_file": pyspark.__file__, "zipimporters": zipimporters}]
        )

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "pysatl_cpd_spark.worker_daemon"
    rows = (
        spark.range(64, numPartitions=4)
        .mapInArrow(worker_imports, "pyspark_file string, zipimporters long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        # a module loaded from an archive has a __file__ that is no real file
        assert os.path.isfile(r.pyspark_file), r.pyspark_file
        assert r.zipimporters == 0


def test_default_driver_memory_is_half_of_available(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemAvailable:   8388608 kB\n")
    assert default_driver_memory(str(meminfo)) == "4096m"
    meminfo.write_text("MemAvailable:   134217728 kB\n")
    assert default_driver_memory(str(meminfo)) == "16384m"
    meminfo.write_text("MemAvailable:   1048576 kB\n")
    assert default_driver_memory(str(meminfo)) == "1024m"

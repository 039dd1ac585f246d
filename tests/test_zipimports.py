"""Python workers re-read a zip archive's directory only when the zip
changed (data_misc_tools_spark.zipimports), and the package zip shipped
to them holds the current sources (session.package_zip)."""

import importlib
import os
import sys
import tempfile
import zipfile
import zipimport

import pyspark.sql.functions as F
import pytest
from pyspark.core.files import SparkFiles

from data_misc_tools_spark import zipimports
from data_misc_tools_spark.session import package_zip, session_cache, ship_package


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_read_once_and_a_rewritten_one_again(tmp_path, monkeypatch, directory_reads):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"zipimp_probe_a": "A = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimports._invalidate_caches)
    monkeypatch.syspath_prepend(zpath)
    # a second importer of the same archive, as a worker holds one per subpackage
    other = zipimport.zipimporter(zpath)
    assert importlib.import_module("zipimp_probe_a").A == 1
    del directory_reads[:]

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    other.invalidate_caches()
    assert directory_reads.count(zpath) == 1  # first sight of the archive only
    assert other._files is zipimport._zip_directory_cache[zpath]

    with pytest.raises(ImportError):
        importlib.import_module("zipimp_probe_b")
    # rewritten in place: same inode, new size and mtime
    _write_zip(zpath, {"zipimp_probe_a": "A = 1\n", "zipimp_probe_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zipimp_probe_b").B == 2
    assert directory_reads.count(zpath) == 2
    other.invalidate_caches()  # shares the new directory, reads nothing
    assert directory_reads.count(zpath) == 2
    assert other.find_spec("zipimp_probe_b") is not None
    for name in ("zipimp_probe_a", "zipimp_probe_b"):
        sys.modules.pop(name)
    zipimport._zip_directory_cache.pop(zpath)


def test_missing_zip_leaves_an_empty_directory(tmp_path):
    zpath = str(tmp_path / "gone.zip")
    _write_zip(zpath, {"zipimp_probe_c": "C = 3\n"})
    imp = zipimport.zipimporter(zpath)
    os.remove(zpath)
    zipimports._invalidate_caches(imp)
    assert imp._files == {}
    assert zpath not in zipimport._zip_directory_cache


def test_patch_applies_only_in_a_worker_before_python_3_13(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    assert stock is not zipimports._invalidate_caches  # the driver is never patched
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    assert SparkFiles._is_running_on_worker is False
    assert zipimports.share_zip_directories() is False
    assert zipimport.zipimporter.invalidate_caches is stock

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert zipimports.share_zip_directories() is False
    assert zipimport.zipimporter.invalidate_caches is stock

    monkeypatch.setattr(sys, "version_info", (3, 12, 7, "final", 0))
    assert zipimports.share_zip_directories() is True
    assert zipimport.zipimporter.invalidate_caches is zipimports._invalidate_caches


def test_reused_worker_task_start_reads_no_zip_directory(spark):
    """A task on a reused Python worker starts without reading any zip
    directory. The UDF counts zipimport._read_directory calls in its
    worker since the previous UDF call there; jobs repeat until a worker
    is reused, since the pool may hold several idle workers. The test
    session's daemon installs its own copy of the method before any task
    (tests/workers/zipshare_daemon.py), so the UDF also checks that the
    package's import put the package's method in its place."""

    def probe(_):
        import os
        import zipimport

        import data_misc_tools_spark  # the engine's worker-side import

        own = data_misc_tools_spark.zipimports._invalidate_caches
        if zipimport.zipimporter.invalidate_caches is not own:
            return f"{os.getpid()} unpatched"
        if not hasattr(zipimport, "_probe_reads"):
            zipimport._probe_reads = []
            read = zipimport._read_directory

            def counting(archive):
                zipimport._probe_reads.append(archive)
                return read(archive)

            zipimport._read_directory = counting
            return f"{os.getpid()} -"
        reads = len(zipimport._probe_reads)
        del zipimport._probe_reads[:]
        return f"{os.getpid()} {reads}"

    udf = F.udf(probe, "string")
    results = []
    for _ in range(12):
        results.append(spark.range(0, 1, 1, 1).select(udf("id")).first()[0])
        reused = [r for r in results if not r.endswith(" -")]
        if len(reused) >= 2:
            break
    assert reused, results
    assert all(r.split()[1] == "0" for r in reused), results


def test_planted_zip_under_the_old_name_is_not_shipped(spark):
    planted = os.path.join(tempfile.gettempdir(), f"data_misc_tools_spark_{os.getpid()}.zip")
    _write_zip(planted, {"data_misc_tools_spark/__init__": "raise ImportError('stale')\n"})
    try:
        session_cache(spark, "shipped").clear()
        ship_package(spark)
        shipped = [f for f in spark.sparkContext.listFiles if "data_misc_tools_spark_" in f]
        assert shipped and not any(os.path.basename(planted) in f for f in shipped)
        zpath = package_zip()
        assert any(f.endswith(os.path.basename(zpath)) for f in shipped)
        src = os.path.join(os.path.dirname(zipimports.__file__), "zipimports.py")
        with zipfile.ZipFile(zpath) as z, open(src, "rb") as f:
            assert z.read("data_misc_tools_spark/zipimports.py") == f.read()
    finally:
        os.remove(planted)

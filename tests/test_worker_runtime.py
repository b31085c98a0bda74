"""Process-wide caches the session keeps warm: the Python workers' zip
directory index (``fink_filters_spark/worker_daemon.py``) and Spark's
generated-code cache (``session.BUILDER_CONF``)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from fink_filters_spark import worker_daemon

_STOCK_DAEMON = sys.version_info >= (3, 13)


@pytest.mark.skipif(_STOCK_DAEMON, reason="CPython 3.13+ runs the stock daemon")
def test_python_workers_run_the_zip_index_shim(spark):
    def shim_name(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__name__

    names = spark.sparkContext.parallelize(range(4), 4).mapPartitions(shim_name).collect()
    assert names == ["invalidate_if_changed"] * 4


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.mark.skipif(_STOCK_DAEMON, reason="the shim targets CPython < 3.13")
def test_zip_index_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = tmp_path / "bundle.zip"
    _write_zip(archive, {"zshim_a": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(str(archive))
    for mod in ("zshim_a", "zshim_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    monkeypatch.delitem(sys.path_importer_cache, str(archive), raising=False)
    assert importlib.import_module("zshim_a").X == 1

    worker_daemon.install()
    importlib.invalidate_caches()  # the first call reads and stamps the archive
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or stock_read(a)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, {"zshim_a": "X = 1\n", "zshim_b": "Y = 2\n"})  # same inode
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("zshim_b").Y == 2


def test_generated_code_stays_compiled_across_passes(spark):
    """A pass over more distinct generated classes than Spark's default
    codegen cache (100) holds compiles nothing when it runs again."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def one_pass():
        for i in range(120):
            spark.range(2).selectExpr(f"id * {i + 7919} + {i} AS v").collect()

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() == before

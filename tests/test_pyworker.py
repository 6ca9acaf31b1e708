"""The zipimport stat guard (``erpl_web_spark.core.pyworker``): an archive
is re-read by ``importlib.invalidate_caches()`` only when it changed on
disk. Unit cases run without Spark on a temporary zip; the last case
checks a real Spark Python worker against ``pyspark.zip``."""

from __future__ import annotations

import importlib
import logging
import os
import sys
import zipfile
import zipimport

import pytest

from erpl_web_spark.core import pyworker

guarded = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads lazily; no guard"
)

PKG = "erpl_pyworker_probe_pkg"


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{PKG}/__init__.py", "")
        for name, body in modules.items():
            zf.writestr(f"{PKG}/{name}.py", body)


@pytest.fixture()
def probe_zip(tmp_path, monkeypatch):
    """A zip holding a package, on ``sys.path`` and imported from; yields
    ``(path, reads)`` where ``reads`` counts directory reads of it."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{PKG}.a")
    importlib.invalidate_caches()  # first guarded call reads and records a key

    reads: list[str] = []
    stock = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    pyworker._read_keys.pop(path, None)


def _importers(path: str) -> list:
    return [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == path
    ]


@guarded
def test_unchanged_archive_is_not_reread(probe_zip):
    path, reads = probe_zip
    assert len(_importers(path)) == 2  # the sys.path entry and the package path
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert all(f._files is zipimport._zip_directory_cache[path] for f in _importers(path))


@guarded
def test_rewritten_archive_is_reread_once_and_logged(probe_zip, caplog):
    path, reads = probe_zip
    _write_zip(path, {"a": "VALUE = 1\n", "b": "VALUE = 2\n"})
    with caplog.at_level(logging.DEBUG, logger="erpl_web_spark.core.pyworker"):
        importlib.invalidate_caches()
    assert reads == [path]  # one read, shared by both importers
    assert importlib.import_module(f"{PKG}.b").VALUE == 2
    assert [r.name for r in caplog.records] == ["erpl_web_spark.core.pyworker"]
    assert caplog.records[0].levelno == logging.DEBUG
    assert path in caplog.records[0].getMessage()
    importlib.invalidate_caches()
    assert reads == [path]


@guarded
def test_deleted_archive_takes_stock_path(probe_zip):
    path, reads = probe_zip
    importers = _importers(path)
    os.remove(path)
    importlib.invalidate_caches()
    # stock: every importer tries to re-read, fails, and empties its files
    assert len(reads) == len(importers) == 2
    assert all(f._files == {} for f in importers)
    assert path not in zipimport._zip_directory_cache
    assert path not in pyworker._read_keys


@guarded
def test_install_is_idempotent():
    wrapped = zipimport.zipimporter.invalidate_caches
    assert hasattr(wrapped, "_erpl_stock")  # the package import installed it
    pyworker.install()
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert not hasattr(wrapped._erpl_stock, "_erpl_stock")


@pytest.mark.skipif(sys.version_info < (3, 13), reason="the guard is active below 3.13")
def test_install_is_a_noop_on_lazy_cpython():
    pyworker.install()
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "_erpl_stock")


@guarded
def test_spark_worker_does_not_reread_pyspark_zip(spark):
    """In a real Python worker, where PySpark calls invalidate_caches()
    on every call, repeated calls re-read none of the worker's zips. A
    worker's first guarded call reads each archive once to record its
    key; in a reused worker PySpark's own call at task start does that."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        import erpl_web_spark  # noqa: F401  (installs the guard)

        importlib.invalidate_caches()
        stock = zipimport._read_directory
        reads = []

        def counting(archive):
            reads.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        archives = sorted({
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        })
        yield reads, archives

    [(reads, archives)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert any(os.path.basename(a) == "pyspark.zip" for a in archives), archives
    assert reads == []

"""The zipimporter wrapper (pgshovel_spark/zipimport_cache.py): an
unchanged archive is not re-read by ``importlib.invalidate_caches()``,
a rewritten one still is, and CPython >= 3.13 is left alone."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import pgshovel_spark  # noqa: F401  (installs the wrapper)
from pgshovel_spark import zipimport_cache

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the wrapper is only installed before 3.13"
)


def _write_zip(path, pkg, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        for name, body in modules.items():
            z.writestr(f"{pkg}/{name}.py", body)


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A package imported from a temp zip on sys.path; yields
    ``(archive, pkg)`` and unloads the package afterwards."""
    pkg = f"zpkg_{tmp_path.name.replace('-', '_')}"
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, pkg, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(f"{pkg}.a").X == 1
    yield archive, pkg
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[path]


def _count_reads(monkeypatch, archive):
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@before_313
def test_unchanged_archive_is_not_reread(zipped_pkg, monkeypatch):
    archive, _pkg = zipped_pkg
    importers = [
        imp for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]
    assert len(importers) == 2  # the archive root and the package dir
    importlib.invalidate_caches()  # first call per importer reads once
    reads = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@before_313
def test_rewritten_archive_is_reread(zipped_pkg, monkeypatch):
    archive, pkg = zipped_pkg
    importlib.invalidate_caches()
    _write_zip(archive, pkg, {"a": "X = 1\n", "b": "Y = 2\n"})
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert reads  # the changed archive went through the original method
    assert importlib.import_module(f"{pkg}.b").Y == 2


@before_313
def test_missing_archive_goes_through_original(zipped_pkg):
    archive, pkg = zipped_pkg
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # the original clears the importer's files
    with pytest.raises(ImportError):
        importlib.import_module(f"{pkg}.gone")


@before_313
def test_installed_once():
    method = zipimport.zipimporter.invalidate_caches
    assert hasattr(method, "__wrapped__")
    assert zipimport_cache.install() is True
    assert zipimport.zipimporter.invalidate_caches is method  # not re-wrapped


def test_python_313_is_left_untouched():
    class Importer:
        def invalidate_caches(self):
            pass

    original = Importer.invalidate_caches
    assert zipimport_cache.install(Importer, (3, 13, 0)) is False
    assert Importer.invalidate_caches is original
    assert zipimport_cache.install(Importer, (3, 12, 9)) is True
    assert Importer.invalidate_caches.__wrapped__ is original
    if sys.version_info >= (3, 13):
        assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


@before_313
def test_wrapper_is_installed_in_spark_python_workers(spark):
    """A reused worker that has imported pgshovel_spark skips the
    re-read of pyspark.zip (and every other unchanged archive)."""

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        import pgshovel_spark  # noqa: F401

        real = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return real(path)

        importlib.invalidate_caches()
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({
            "installed": [hasattr(zipimport.zipimporter.invalidate_caches,
                                  "__wrapped__")],
            "reads": [len(reads)],
        })

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(probe, "installed boolean, reads long")
        .collect()
    )
    assert len(rows) == 2
    assert all(r.installed for r in rows)
    assert all(r.reads == 0 for r in rows)

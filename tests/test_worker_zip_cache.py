"""The engine's zipimport patch: a per-task ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed on disk.

PySpark runs that invalidation at the start of every Python task; below
Python 3.13 each ``zipimporter`` re-read its whole archive there."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from go_pq_cdc_kafka_spark import _zipcache

pre313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from 3.13"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


_NESTED = {
    "zcpkg/__init__.py": "",
    "zcpkg/a/__init__.py": "",
    "zcpkg/a/inner/__init__.py": "X = 'inner'\n",
    "zcpkg/b/__init__.py": "X = 'b'\n",
}


@pytest.fixture
def nested_zip(tmp_path, monkeypatch):
    """A nested-package zip on sys.path with three of its subpackages
    imported, so several zipimporters point at one archive."""
    archive = str(tmp_path / "nested.zip")
    _write_zip(archive, _NESTED)
    monkeypatch.syspath_prepend(archive)
    for m in ("zcpkg.a.inner", "zcpkg.b"):
        importlib.import_module(m)
    yield archive
    for m in [m for m in sys.modules if m == "zcpkg" or m.startswith("zcpkg.")]:
        del sys.modules[m]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch, archive):
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pre313
def test_unchanged_archive_is_not_reread(nested_zip, monkeypatch):
    importers = [
        f
        for k, f in sys.path_importer_cache.items()
        if k.startswith(nested_zip) and isinstance(f, zipimport.zipimporter)
    ]
    assert len(importers) >= 3
    reads = _count_reads(monkeypatch, nested_zip)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert all(f._files is zipimport._zip_directory_cache[nested_zip] for f in importers)


def test_rewritten_archive_is_reread(nested_zip, monkeypatch):
    reads = _count_reads(monkeypatch, nested_zip)
    _write_zip(nested_zip, {**_NESTED, "zcpkg/a/added.py": "Y = 42\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zcpkg.a.added").Y == 42
    # one importer re-read the archive; the others took the shared entry
    assert len(reads) == 1
    importlib.invalidate_caches()
    assert len(reads) == 1


@pre313
def test_install_is_idempotent():
    _zipcache.install()
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
    assert zipimport._read_directory is _zipcache._read_directory


def test_install_is_a_noop_from_313(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    sentinel_invalidate = lambda self: None  # noqa: E731
    sentinel_read = lambda archive: {}  # noqa: E731
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", sentinel_invalidate)
    monkeypatch.setattr(zipimport, "_read_directory", sentinel_read)
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is sentinel_invalidate
    assert zipimport._read_directory is sentinel_read


@pre313
def test_python_worker_runs_the_engine_invalidation(spark):
    """A Python worker that unpickles engine code runs the engine's
    ``invalidate_caches`` on every later task."""
    from go_pq_cdc_kafka_spark.envelope import is_insert

    def report(it, _engine=is_insert):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in it:
            pass
        yield pd.DataFrame({"patched_by": [f"{fn.__module__}.{fn.__name__}"]})

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(report, schema="patched_by string")
        .collect()
    )
    assert {r.patched_by for r in rows} == {
        "go_pq_cdc_kafka_spark._zipcache._invalidate_caches"
    }

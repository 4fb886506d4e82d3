"""engine.zipcache: an archive's directory is re-read at invalidation only
when the archive changed, and a changed, new or deleted archive behaves as
under the stock zipimporter. The last test runs inside a Spark worker."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import engine  # noqa: F401 -- installs zipcache
from engine import zipcache

eager = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads lazily itself"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding zc_probe_a, imported once; yields
    (path, reads), reads the archives _read_directory opened after setup."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["zc_probe_a"])
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zc_probe_a")
    reads = []
    real = zipimport._read_directory

    def counting(p):
        reads.append(p)
        return real(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in ("zc_probe_a", "zc_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    zipcache._read_at.pop(path, None)


@eager
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()  # the first invalidation reads it once
    assert reads.count(path) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("zc_probe_a").NAME == "zc_probe_a"


@eager
def test_rewritten_archive_imports_new_module(archive):
    path, reads = archive
    importlib.invalidate_caches()
    _write_zip(path, ["zc_probe_a", "zc_probe_b"])  # in place: same inode
    with pytest.raises(ImportError):  # no invalidation yet: stale directory
        importlib.import_module("zc_probe_b")
    importlib.invalidate_caches()
    assert reads.count(path) == 2
    assert importlib.import_module("zc_probe_b").NAME == "zc_probe_b"


@eager
def test_deleted_archive_matches_stock(archive, tmp_path):
    path, _ = archive
    importlib.invalidate_caches()
    gated, stock = zipimport.zipimporter(path), zipimport.zipimporter(path)
    (tmp_path / "mods.zip").unlink()
    zipcache.invalidate_caches(gated)
    assert gated._files == {} and path not in zipimport._zip_directory_cache
    zipcache.STOCK(stock)
    assert stock._files == gated._files
    # an archive that comes back is read again, not served from a stale key
    _write_zip(path, ["zc_probe_b"])
    zipcache.invalidate_caches(gated)
    zipcache.STOCK(stock)
    assert set(gated._files) == set(stock._files) == {"zc_probe_b.py"}


def test_stdlib_patched_only_before_313():
    method = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13):
        assert method is zipcache.STOCK
    else:
        assert method is zipcache.invalidate_caches


@eager
def test_worker_invalidation_reads_no_archive(spark):
    """In a mapInArrow worker that has imported engine, a task setup's
    importlib.invalidate_caches() opens no archive; the stock method, put
    back for one call in the same worker, re-reads every one."""

    def probe(batches):
        import importlib
        import zipimport

        import engine  # noqa: F401
        from engine import zipcache

        importlib.invalidate_caches()  # this worker's first (gated) read
        reads = []
        real = zipimport._read_directory

        def counting(p):
            reads.append(p)
            return real(p)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            gated = len(reads)
            zipimport.zipimporter.invalidate_caches = zipcache.STOCK
            try:
                importlib.invalidate_caches()
            finally:
                zipcache.install()
            stock = len(reads) - gated
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"gated": gated, "stock": stock}])

    df = spark.range(0, 10, numPartitions=1)
    (row,) = df.mapInArrow(probe, "gated long, stock long").collect()
    assert row.gated == 0
    assert row.stock > 0  # the worker's path does hold zip archives

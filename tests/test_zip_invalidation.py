"""Stat-keyed zip-cache invalidation (session._enable_stat_keyed_zip_invalidation).

Before Python 3.12, `importlib.invalidate_caches()` makes every
`zipimporter` re-read its archive's central directory, and PySpark's
worker calls it at the start of every Python task. Importing the package
wraps the method so an unchanged archive is never re-read. These tests
pin both halves: unchanged archives cost no read, and a rewritten archive
is still re-read so its new modules import.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import parquet_storage_query_spark  # noqa: F401  (installs the wrapper)

needs_wrapper = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ invalidates zip caches lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path; its modules and importers are dropped
    afterwards so no other test sees them."""
    path = tmp_path / "mods.zip"
    _write_zip(path, {"zinv_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in ("zinv_a", "zinv_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    orig = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_wrapper
def test_wrapper_installed_at_import():
    assert getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False)


@needs_wrapper
def test_unchanged_archives_are_not_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("zinv_a").VALUE == 1
    importers = [
        f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
    ]
    assert str(zip_on_path) in {f.archive for f in importers}
    reads = _count_reads(monkeypatch)
    # the first call reads each archive this process has not read since
    # the wrapper went in at most once, however many importers share it
    importlib.invalidate_caches()
    assert len(reads) == len(set(reads))
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("zinv_a").VALUE == 1
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)
    # a new module makes the archive larger, so its key changes even when
    # the rewrite lands within the same mtime tick
    _write_zip(zip_on_path, {"zinv_a": "VALUE = 1\n", "zinv_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zinv_b").VALUE == 2
    if sys.version_info < (3, 12):
        assert str(zip_on_path) in reads


@needs_wrapper
def test_worker_tasks_skip_archive_rereads(spark):
    """From the second task on each reused Python worker, the wrapper is
    active before the task's own `invalidate_caches()` and no unchanged
    archive is re-read."""
    from parquet_storage_query_spark.pkgship import ship_package

    ship_package(spark)  # the package zip joins the worker's archives

    def probe(batches):
        import importlib
        import os
        import time
        import zipimport

        import pandas as pd

        active = getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False)
        # what unpickling any UDF defined in the package does
        import parquet_storage_query_spark  # noqa: F401

        reads = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda a: (reads.append(a), orig(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "t": [time.time()], "active": [active], "reads": [len(reads)]}
        )

    schema = "pid long, t double, active boolean, reads long"
    rows = []
    for _ in range(2):
        rows += spark.range(0, 8, 1, 8).mapInPandas(probe, schema).collect()
    assert len(rows) == 16
    by_pid: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: r.t):
        by_pid.setdefault(r.pid, []).append(r)
    later = [r for tasks in by_pid.values() for r in tasks[1:]]
    assert later, "no Python worker ran a second task"
    assert all(r.active for r in later), later
    assert all(r.reads == 0 for r in later), later

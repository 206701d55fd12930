"""The zip-archive guard: ``importlib.invalidate_caches()`` re-reads an
archive's directory only when the archive changed, once for all of its
importers, and every Python worker task runs with the guard installed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ocr_spark import pyworker

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 re-reads lazily")


def _write_zip(path, files: dict[str, str]) -> None:
    # a new inode on every rewrite: the archive is replaced, not edited
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``m1`` and package ``p`` on ``sys.path``, with
    ``m1`` and ``p.q`` imported (two importers on one archive), and a
    list recording every directory read of it from then on."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"m1.py": "X = 1\n", "p/__init__.py": "",
                      "p/q.py": "Y = 2\n"})
    names = ("m1", "m2", "p", "p.q")
    for name in names:
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(path)
    import m1  # noqa: F401
    import p.q  # noqa: F401

    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive_path):
        reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in names:
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


@needs_guard
def test_guard_installed_on_package_import():
    assert pyworker.installed()


@needs_guard
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importers = [f for k, f in sys.path_importer_cache.items()
                 if k.startswith(path)]
    assert len(importers) == 2
    # the first guarded call reads once (the importers' own read carried
    # no stamp), then never again while the archive is unchanged
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 1


@needs_guard
def test_changed_archive_is_reread_once_per_archive(archive):
    path, reads = archive
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(path, {"m2.py": "Z = 3\n", "p/__init__.py": "",
                      "p/q.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    import m2

    assert m2.Z == 3
    importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_installer_leaves_zipimporter_alone_on_313(monkeypatch):
    original = pyworker._reread
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert pyworker.install() is False
    assert zipimport.zipimporter.invalidate_caches is original
    assert not pyworker.installed()


def test_every_worker_task_runs_guarded(spark):
    # nested, so it is pickled by value and runs in the worker itself
    def _report(batches):
        import sys

        import pandas as pd
        from pyspark import TaskContext

        from ocr_spark import pyworker

        for _ in batches:
            pass
        yield pd.DataFrame({
            "partition": [TaskContext.get().partitionId()],
            "needed": [sys.version_info < (3, 13)],
            "installed": [pyworker.installed()],
        })

    rows = (
        spark.range(0, 64, numPartitions=8)
        .mapInPandas(_report,
                     "partition int, needed boolean, installed boolean")
        .collect()
    )
    assert sorted(r.partition for r in rows) == list(range(8))
    assert all(r.installed == r.needed for r in rows), rows

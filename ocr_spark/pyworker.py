"""Stop Python workers re-reading zip archives at the start of every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  On CPython < 3.13
that makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory, and a worker holds about a dozen of
them: ``pyspark.zip`` (1,328 entries, 10.5 ms a read) and two on the
``spark-core`` jar (5,359 entries, 42 ms a read) — 0.15-0.25 s per task,
more than the strip kernel's compute.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the stamp taken before the guard's last read of it; every
importer of one archive shares that read.  A changed archive is still
re-read, and the first guarded call per archive always reads, because the
stamp of the importer's own earlier read is unknown.  Directory finders,
and ``importlib.invalidate_caches`` itself, keep stdlib behaviour.
CPython 3.13 made the re-read lazy, so there nothing is installed.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> bool:
    """Install the guard in this process; False where it is not needed."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches

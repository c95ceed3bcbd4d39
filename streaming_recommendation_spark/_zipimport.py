"""Stat-guarded ``zipimporter.invalidate_caches`` for Python workers.

Every PySpark task starts with ``pyspark/worker_util.py::
setup_spark_files``, which ends in ``importlib.invalidate_caches()``.
Before Python 3.13 that calls ``zipimporter.invalidate_caches`` on
every zip importer in ``sys.path_importer_cache``, and each one
re-reads its archive's whole central directory. A worker importing
from ``pyspark.zip`` holds 14-16 such importers over a 1,328-entry
archive: about 120 ms of re-reading per Python task, most of the
wait between a job's submit and its function's first line. Python
3.13 made the call lazy (it only drops ``_zip_directory_cache``), so
the guard is installed on older versions only.

The guard keys each archive's last read on its ``(st_mtime_ns,
st_size, st_ino)``. While that stat is unchanged and the directory
cache still holds the archive, an importer adopts the cached
directory; otherwise it re-reads as before. So an archive is re-read
exactly when it changed. The package ``__init__`` installs it, so
every worker that unpickles a package function runs guarded from its
next task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_at: dict[str, tuple[int, int, int]] = {}


def _stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (idempotent), then
    invalidate every cached zip importer once, so each archive's
    cached directory carries the stat of the read that produced it."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    original = cls.invalidate_caches

    def invalidate_caches(self):
        stat = _stat(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stat is not None and cached is not None and _read_at.get(self.archive) == stat:
            self._files = cached
            return
        original(self)  # stat taken first: a change during the read re-reads next time
        if stat is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = stat

    invalidate_caches.__wrapped__ = original
    cls.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            importer.invalidate_caches()

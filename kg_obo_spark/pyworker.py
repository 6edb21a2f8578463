"""Per-task fixed cost of PySpark's Python workers: zip-import invalidation.

Before every task PySpark's worker runs ``setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory in pure Python. A worker's ``sys.path``
holds ``pyspark.zip`` (one importer per imported pyspark package), the py4j
zip and, in local mode, the Spark core jar; re-reading them costs ~0.2 s per
task, which is more than a small Arrow batch's whole scan.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a
stat-guarded version: an archive whose ``(st_ino, st_size, st_mtime_ns)`` is
the one it had at its last re-read keeps the directory that re-read
produced; a changed archive, one that cannot be stat'ed, or one never re-read
by the guard gets CPython's own re-read. Imports therefore still see an
archive that changes on disk.

Importing ``kg_obo_spark`` calls :func:`install_if_worker`, which installs
the guard only inside a PySpark worker (``SparkFiles._is_running_on_worker``
is set before the task's closure is unpickled, and every library closure
imports this package while it unpickles). A reused worker is guarded from
its second task on; the driver and every other process keep the stdlib
behaviour.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> (st_ino, st_size, st_mtime_ns) taken just before its last re-read
_read_stat: dict[str, tuple[int, int, int]] = {}


def _archive_stat(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except (OSError, ValueError):
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def guarded_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    archive unchanged since the guard last re-read it."""
    # stat BEFORE reading: a change that races the read leaves an older key
    # behind, so the next call re-reads rather than trusting a stale directory
    key = _archive_stat(self.archive)
    if key is not None and _read_stat.get(self.archive) == key:
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None:
            self._files = files
            return
    _STDLIB_INVALIDATE(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _read_stat[self.archive] = key
    else:
        _read_stat.pop(self.archive, None)


def install() -> bool:
    """Install the guard in this process; True when it is in place. Left out
    where the stdlib method was already replaced by someone else, and on
    CPythons whose ``zipimporter`` re-reads lazily (``_get_files``)."""
    cls = zipimport.zipimporter
    if cls.invalidate_caches is guarded_invalidate_caches:
        return True
    if cls.invalidate_caches is not _STDLIB_INVALIDATE or hasattr(cls, "_get_files"):
        return False
    cls.invalidate_caches = guarded_invalidate_caches
    return True


def install_if_worker() -> bool:
    """:func:`install` iff this process is a PySpark Python worker. Reads the
    flag only when the worker has already imported ``pyspark.core.files``,
    so a driver-side import pulls in no pyspark module."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not getattr(files.SparkFiles, "_is_running_on_worker", False):
        return False
    return install()

"""Cheap ``zipimporter.invalidate_caches`` for Python < 3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files`` in ``pyspark/worker_util.py``), so a
reused Python worker pays that call once per task. On Python 3.11 the call
reaches every ``zipimporter`` in ``sys.path_importer_cache`` and each one
re-reads its archive's whole central directory: ``pyspark.zip`` has about
1,300 entries and a dozen or more importers (one per package directory),
which made that call most of a small Arrow UDF task's CPU time. CPython
3.12 made the re-read lazy (gh-103200); this module does the same job for
older interpreters by re-reading an archive only when its file changed.

``install()`` replaces the method once per process. An archive whose file
(inode, size, mtime) is the one last read keeps its directory; a changed,
missing or broken one goes through the stdlib method as before, so the next
lookup sees the new directory. The replacement never prints and starts no
thread.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> ((inode, size, mtime_ns) before the last read, its directory)
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _file_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path, if the file changed."""
    archive = self.archive
    key = _file_key(archive)
    last = _last_read.get(archive)
    # the directory must still be the cached one: a failed or concurrent
    # read replaces or drops it
    if last is not None and last[0] == key and (
        zipimport._zip_directory_cache.get(archive) is last[1]
    ):
        self._files = last[1]
        return
    # the key is taken before the read: a change during it shows next call
    _stdlib_invalidate(self)
    if key is not None:
        _last_read[archive] = (key, self._files)


def install() -> None:
    """Install the cheap invalidation, once per process. A no-op on Python
    >= 3.12, whose ``zipimporter`` already defers the re-read."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches

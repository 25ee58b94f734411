"""Stat-keyed zip-directory cache for ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``). Before Python
3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
whole central directory at once, and a worker holds one zipimporter per
package directory of ``pyspark.zip`` (16 of them over its 1,328 entries),
so every task re-parsed that directory 16 times: 0.17-0.23 CPU-s per task
on a 4-vCPU box, even for an empty partition.

``install()`` wraps the method so an archive is re-read only when its
``(st_ino, st_mtime_ns, st_size)`` differs from the stat taken before its
last read, or when it is gone — CPython's contract (a changed archive is
re-read after ``invalidate_caches()``) holds, the unchanged-archive read
is skipped. The stat is taken BEFORE the read, so a rewrite racing the
read shows up as a changed stat on the next call. An in-place rewrite
that keeps inode, size and nanosecond mtime is not seen; the stdlib's own
directory cache (``zipimport._zip_directory_cache``, used by every new
zipimporter) has no check at all.
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport

# archive path -> stat key taken before its last directory read
_read_at: dict[str, tuple[int, int, int]] = {}
_lock = threading.Lock()  # stat, read and record are one step
_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    with _lock:
        try:
            key = _stat_key(self.archive)
        except OSError:
            _read_at.pop(self.archive, None)
            return _stdlib_invalidate(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _read_at.get(self.archive) == key:
            self._files = files  # the archive's latest read, shared by path
        else:
            _stdlib_invalidate(self)
            _read_at[self.archive] = key


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process (idempotent;
    Python >= 3.13 reads the directory lazily and is left alone), then
    refresh every zipimporter already on the import path through the
    wrapper — one read per archive — so the next task's call skips it.
    Refreshing, rather than recording the current stat against a directory
    read at some earlier time, keeps an archive changed in between from
    being taken as read."""
    if sys.version_info >= (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches is not invalidate_caches:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()

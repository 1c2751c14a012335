"""Interpreter compat shim: a zip archive's directory is re-read only when
the archive changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every cached zipimporter,
and each call re-reads the archive's whole central directory. A reused
worker holds about sixteen zipimporters over ``pyspark.zip`` (1,328
entries), so every task paid 80-115 ms before any engine code ran: on a
4-vCPU VM with local[4], a trivial one-task job took 230 ms, and 137 ms
without the re-read.

``install()`` wraps that method so it re-reads an archive only when the
archive's (size, mtime_ns, inode) differs from what it was at the last
read; otherwise the importer takes the directory already cached for that
path. A rewritten or replaced zip is still picked up. Python 3.12 reads
zip directories lazily and is left alone.

``import engine`` installs it. Every engine task closure refers to engine
code, so unpickling it on a worker imports ``engine`` and installs the
shim there; from the next task on, that reused worker skips the re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> its (size, mtime_ns, inode) at the last directory read
_read_at: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns, st.st_ino


def install() -> None:
    """Make zipimporter.invalidate_caches conditional (CPython < 3.12).
    Idempotent."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or getattr(
            cls.invalidate_caches, "reread", None) is not None:
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        # stamp BEFORE the read: a change racing the read leaves an old
        # stamp behind, so the next call reads again
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None \
                and _read_at.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is None:
            _read_at.pop(self.archive, None)
        else:
            _read_at[self.archive] = stamp

    invalidate_caches.reread = reread
    cls.invalidate_caches = invalidate_caches

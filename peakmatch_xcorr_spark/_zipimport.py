"""Stat-checked ``zipimporter.invalidate_caches`` for Python workers.

Before every task the PySpark worker calls ``importlib.invalidate_caches()``.
On CPython 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-parse its archive's whole central directory,
and a worker holds one importer per PySpark package directory it imported
from ``pyspark.zip``: ~0.1-0.4 s of every Python task went there, the rest
of worker set-up took under 1 ms.  The replacement re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` differs from the last read and
otherwise points the importer back at the cached directory.  CPython 3.12
makes the refresh lazy, so nothing is installed there.
"""

from __future__ import annotations

import os
import sys


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process (idempotent).

    Falls back to the stdlib method for an archive that cannot be stat'ed
    or an importer without ``_files``, and installs nothing when
    ``zipimport._zip_directory_cache`` is missing."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    cls = zipimport.zipimporter
    cache = getattr(zipimport, "_zip_directory_cache", None)
    stdlib = cls.invalidate_caches
    if not isinstance(cache, dict) or stdlib.__module__ == __name__:
        return
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except (AttributeError, OSError, ValueError):
            return stdlib(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = cache.get(self.archive)
        if (
            files is not None
            and hasattr(self, "_files")
            and stamps.get(self.archive) == stamp
        ):
            self._files = files
            return
        # the stamp is taken before the read: a rewrite racing the read
        # leaves an older stamp, so the next call reads again
        stamps.pop(self.archive, None)
        stdlib(self)
        if self.archive in cache:
            stamps[self.archive] = stamp

    cls.invalidate_caches = invalidate_caches

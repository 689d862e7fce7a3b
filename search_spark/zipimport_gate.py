"""Stat-gated zip-importer cache invalidation for PySpark's Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``), after it has put
the task's ``--py-files`` on ``sys.path``. On CPython < 3.13 that call
makes every ``zipimport.zipimporter`` in the process re-read its whole
archive directory at once. A reused worker holds a dozen of them over
``pyspark.zip``, ``py4j-*.zip`` and the spark-core jar (several thousand
entries together), so each task re-reads thousands of zip entries before it
runs any of its own code. CPython 3.13 made this invalidation lazy.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that first stats ``self.archive`` (``st_mtime_ns``, ``st_size``,
``st_ino``). The archive is re-read, through the original method, only
when that stamp differs from the one this process took just before its
last re-read. Otherwise the importer is re-pointed at the directory already
held in ``zipimport._zip_directory_cache`` for that archive. An archive
rewritten in place, or replaced by a rename, is therefore re-read exactly
as before. The first invalidation of each archive in a process has no stamp
to compare with, so it still re-reads once.

The package ``__init__`` installs it, so it runs in the driver and in every
Python worker that unpickles one of the engine's UDFs. On Python >= 3.13
:func:`install` leaves the method alone, and a second call does not wrap it
twice.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size, st_ino) taken before its last re-read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _gated(original):
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if (
            stamp is not None
            and files is not None
            and _stamps.get(self.archive) == stamp
        ):
            self._files = files
            return
        # stamp taken before the read: a rewrite racing the read leaves a
        # stale stamp, which only costs one more re-read next time
        original(self)
        _stamps[self.archive] = stamp

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def installed() -> bool:
    """Whether this process's ``zipimporter.invalidate_caches`` is gated."""
    method = zipimport.zipimporter.invalidate_caches
    return getattr(method, "__module__", None) == __name__


def install() -> None:
    """Gate ``zipimporter.invalidate_caches`` (no-op on Python >= 3.13)."""
    if sys.version_info >= (3, 13) or installed():
        return
    zipimport.zipimporter.invalidate_caches = _gated(
        zipimport.zipimporter.invalidate_caches
    )

"""Keep Spark Python workers from re-reading zip archives on every call.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
worker call (data-source create/plan/write/commit, UDTF analysis, every
task). On CPython < 3.13 that makes each ``zipimport.zipimporter`` re-read
its archive's central directory. A worker holds one importer per
imported PySpark package directory (12-17 of them) over the 1,328-entry
``pyspark.zip``, so that is about 0.2 s of CPU per call. CPython 3.13
made the re-read lazy.

``install()`` wraps ``zipimporter.invalidate_caches`` so that an archive
is re-read only when ``os.stat`` reports a different
``(st_mtime_ns, st_size, st_ino)`` than at its last read; importers of an
unchanged archive adopt the shared directory instead. An archive that
cannot be stat'ed takes the stock path. The package ``__init__`` calls it,
so every worker that unpickles a package object installs it once and
keeps it across calls (``spark.python.worker.reuse``).
"""

from __future__ import annotations

import logging
import os
import sys
import zipimport

_log = logging.getLogger(__name__)

# archive path -> stat key taken just before its directory was last read.
# Process-wide, like the zipimport directory cache it vouches for.
_read_keys: dict[str, tuple[int, int, int]] = {}


def _wrap(stock):
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            _read_keys.pop(archive, None)
            return stock(self)
        # stat before the read: a rewrite racing the read leaves an old
        # key, so the next call re-reads instead of trusting stale files
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        last = _read_keys.get(archive)
        if last == key and archive in zipimport._zip_directory_cache:
            self._files = zipimport._zip_directory_cache[archive]
            return
        if last is not None and last != key:
            _log.debug("re-reading %s: archive changed on disk", archive)
        stock(self)
        if archive in zipimport._zip_directory_cache:
            _read_keys[archive] = key
        else:
            _read_keys.pop(archive, None)

    invalidate_caches.__doc__ = stock.__doc__
    invalidate_caches._erpl_stock = stock
    return invalidate_caches


def install() -> None:
    """Install the stat guard; idempotent, and a no-op on CPython >= 3.13.
    An archive's first guarded call still reads it once, to record its key."""
    if sys.version_info >= (3, 13):
        return
    current = zipimport.zipimporter.invalidate_caches
    if not hasattr(current, "_erpl_stock"):
        zipimport.zipimporter.invalidate_caches = _wrap(current)

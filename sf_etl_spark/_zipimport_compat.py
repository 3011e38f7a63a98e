"""Skip re-reading unchanged zip archives in ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every call it serves (``pyspark.worker_util.setup_spark_files``),
so that files shipped with ``addPyFile`` become importable. That call
reaches every path finder in ``sys.path_importer_cache``. On CPython
3.11 and 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory on the spot, and a worker that
imports ``pyspark`` from Spark's ``pyspark.zip`` holds one zipimporter
per imported ``pyspark`` package directory, plus two each on the py4j
zip and the Spark core jar, which are on its ``sys.path`` too. A
pandas-UDF worker on Spark 4.1 re-read the 1,328-entry zip 12 times
(5-11 ms each) and the 5,359-entry jar twice (26-46 ms each) per
call: 0.12-0.24 s of CPU, before any program code ran. CPython 3.13
changed the method to drop the cached directory only, so the archive
is read again on the next import from it.

:func:`install` wraps the method, on Python < 3.13 only, so that an
archive whose ``(st_mtime_ns, st_size, st_ino)`` stamp is unchanged
since its directory was last read in this process is not read again:
the importer takes the cached directory and the call costs one
``stat``. A changed archive, one whose stamp cannot be read, or one with
no cached directory goes through the original method, as before. The
first call after install reads each archive once, to learn its stamp.
``sf_etl_spark/__init__.py`` installs it, so every Spark worker that
unpickles a program class or UDF gets it. Forked workers are reused for
the session: a worker's first call runs before the package is imported
and pays in full, its second reads each archive once, and from then on
only the stats remain.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stamp of the archive taken just before the directory
# now in zipimport._zip_directory_cache was read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` (idempotent;
    does nothing on Python >= 3.13)."""
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_skips_unchanged_archives", False):
        return

    def invalidate_caches(self):
        # stat before the read: an archive replaced while it is read
        # keeps the older stamp and is read again next time
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _read_stamps[self.archive] = stamp
        else:
            _read_stamps.pop(self.archive, None)

    invalidate_caches.__doc__ = original.__doc__
    invalidate_caches._skips_unchanged_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches

"""Python workers stop re-reading unchanged zip archives at each task start.

At the start of every task a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Before CPython 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads
the archive's whole central directory, once per importer object, and a
reused worker holds about 16 of them: one per imported subpackage of
``pyspark.zip`` (1,328 entries each), plus those on the py4j zip, the
spark-core jar and the shipped package zip. On CPython 3.11 that about
doubled the time from submitting a 1-partition UDF job to the UDF's
first call (0.24-0.45 s, against 0.12-0.18 s without the re-reads, on
local[2] with 4 vCPU). CPython 3.13 made the call lazy (it only drops
the shared cache entry), so the patch applies to older versions only.

:func:`share_zip_directories` is called on import of the package, so it
takes effect from a worker's second task on. It replaces the method with
:func:`_invalidate_caches`, which re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since it was last read, and
shares the one result with every importer of that archive through
``zipimport._zip_directory_cache``. A zip that ``addPyFile`` replaces is
still re-read. The driver is never patched.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> the (st_mtime_ns, st_size, st_ino) it had when its
# directory in zipimport._zip_directory_cache was read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that reads an archive once per change."""
    cache = zipimport._zip_directory_cache
    try:
        stamp = _stamp(self.archive)
        if _stamps.get(self.archive) != stamp or self.archive not in cache:
            cache[self.archive] = zipimport._read_directory(self.archive)
            _stamps[self.archive] = stamp
        self._files = cache[self.archive]
    except (OSError, zipimport.ZipImportError):
        # gone or unreadable: what the stock method does on ZipImportError
        cache.pop(self.archive, None)
        _stamps.pop(self.archive, None)
        self._files = {}


def share_zip_directories() -> bool:
    """Install :func:`_invalidate_caches` in a PySpark worker on CPython < 3.13.

    Returns whether it is installed. The directories cached when it is
    installed count as current: the task that imports the package has
    just re-read every importer's archive at its start, and Spark fetches
    added files before a task starts, not during it.
    """
    if sys.version_info >= (3, 13):
        return False
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return True
    from pyspark.core.files import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return False
    for archive in list(zipimport._zip_directory_cache):
        try:
            _stamps[archive] = _stamp(archive)
        except OSError:
            pass  # no stamp: the next invalidation re-reads it
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True

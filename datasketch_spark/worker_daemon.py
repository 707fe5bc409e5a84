"""PySpark worker daemon that stops each Python task from re-reading zip archives.

PySpark starts every task with ``importlib.invalidate_caches()``. On Python
3.12 and older, each ``zipimporter`` answers that by re-reading its archive's
whole central directory at once, and a worker holds 14-17 importers over
``pyspark.zip`` (1,328 entries): 70-125 ms of CPU per task, whatever its
rows. Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from when this process last read it;
otherwise it points back at the directory already read. Python 3.13 made the
call lazy, so there the daemon patches nothing.

Run as ``spark.python.daemon.module``; ``session.get_spark`` sets it.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> (st_mtime_ns, st_size) when last read; process-wide, like the
# zipimport directory cache it guards.
_stamps: dict = {}


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches``, taking the archives already
    read as read now."""
    if sys.version_info >= (3, 13):
        return
    for archive in zipimport._zip_directory_cache:
        _stamps[archive] = _stamp(archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager

    # Patch from the module under its package name, so a worker can tell the
    # patch is in place (tests/test_worker_daemon.py asks it).
    from datasketch_spark.worker_daemon import install as _install

    _install()
    manager()

"""Python worker daemon for local sessions: ``pyspark.daemon`` without the
per-task re-read of every zip archive on ``sys.path``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). That calls
``invalidate_caches()`` on every ``zipimporter`` in
``sys.path_importer_cache`` -- one per archive and package prefix, ~16 for
``pyspark.zip`` -- and each one re-reads the archive's whole central
directory (1,328 entries), even with worker reuse. That is most of a
Python task's fixed cost (~0.29 CPU-s per trivial task on Python 3.11,
4-core host).

This module makes each importer re-read its archive only when the
archive's ``(st_ino, st_size, st_mtime_ns)`` stamp has changed since that
importer last read it, stamps the importers the daemon holds before it
forks any worker, and then runs ``pyspark.daemon.manager()``. A replaced
archive, or one rewritten to another size or at a later timestamp tick,
still gets re-read, so imports see the same files as before.
``session.get_spark`` points ``spark.python.daemon.module`` here for
``local[...]`` masters only.

    python -m deduplicate_spark.worker_daemon [pyspark.worker]
"""

from __future__ import annotations

import os
import sys
import zipimport

# Attribute set on each zipimporter: the stamp of its archive when it last
# read the archive's directory.
_STAMP = "_dedup_archive_stamp"


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` to skip unchanged archives.

    Returns False, patching nothing, on an interpreter whose zipimporter has
    no ``invalidate_caches``. An importer without a string ``archive``, or
    whose archive cannot be stat'ed, keeps the original re-read.
    """
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if original is None:
        return False

    def invalidate_caches(self):
        archive = getattr(self, "archive", None)
        if not isinstance(archive, str):
            return original(self)
        try:
            st = os.stat(archive)
        except OSError:
            self.__dict__.pop(_STAMP, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        if self.__dict__.get(_STAMP) != stamp:
            # stamp taken BEFORE the read: a rewrite racing the read leaves
            # an older stamp behind, so the next call reads again
            original(self)
            self.__dict__[_STAMP] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def stamp_importers() -> None:
    """Read and stamp every zipimporter this process holds, so processes
    forked from it skip the re-read until an archive changes."""
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


def main() -> None:
    # pyspark.daemon imports the worker module (sys.argv[1]) at import time,
    # which creates the pyspark.zip importers the workers will inherit
    from pyspark import daemon

    if install():
        stamp_importers()
    daemon.manager()


if __name__ == "__main__":
    # run under the module's own name, so the patch names
    # deduplicate_spark.worker_daemon and not __main__ as its module
    from deduplicate_spark import worker_daemon

    worker_daemon.main()

"""Python worker daemon for local sessions (``spark.python.daemon.module``).

Spark starts the Python side of every executor as ``python -m
<daemon module> <worker module>``; the daemon forks one worker per
task slot and each worker runs ``pyspark.worker.main`` once per task.
Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar first on
the worker's ``sys.path``, and ``main`` calls
``importlib.invalidate_caches()`` at the start of every task. Before
CPython 3.13, that makes each ``zipimport.zipimporter`` -- one per
archive and package prefix imported from it, 16 in a worker that has
run a pandas UDF -- re-read its whole archive directory: about 0.2 s of
CPU per task, most of a short task's Python time.

This module makes ``zipimporter.invalidate_caches`` re-read an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since that
importer last read it, then runs the stock ``pyspark.daemon`` manager.
A rewritten or newly added archive is still picked up on the next
``invalidate_caches()``. CPython 3.13 reads archive directories lazily
and is left alone.

``datax_spark.session.get_spark`` selects this module in local mode and
puts the package's parent directory on the worker path.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install_zip_cache_patch() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    Idempotent. Returns whether the patch is in place (False on CPython
    3.13+, whose zipimporter already re-reads lazily)."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_skips_unchanged", False):
        return True
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        # stamp taken before the read: a write racing the read leaves a
        # newer stamp on disk, so the next call reads again
        reread(self)
        self._read_stamp = stamp

    invalidate_caches._skips_unchanged = True
    cls.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    patched = install_zip_cache_patch()
    from pyspark import daemon

    if patched:
        # stamp the daemon's importers once, so forked workers start
        # with nothing to re-read
        importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()

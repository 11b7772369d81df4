"""The Python worker daemon of :func:`~flink_streaming_2_10_spark.session.get_spark`
sessions: ``pyspark.daemon`` with lazy zip-archive invalidation.

Every Python task calls ``importlib.invalidate_caches()`` while it sets up
its files (``pyspark.worker_util.setup_spark_files``). On CPython
3.10-3.12 each ``zipimport.zipimporter`` answers by re-reading its whole
archive directory, and a worker holds one importer per package directory
of ``pyspark.zip`` (14 of them), so every task re-read ``pyspark.zip`` 14
times: 33-37 ms of a stateful micro-batch task on a 4-core host.

:func:`install` replaces ``zipimporter.invalidate_caches`` with
:func:`invalidate_caches`, which re-reads an archive only when its stat
(inode, size, ``mtime_ns``) changed since the last read, and shares that
one read among all importers of the archive. CPython 3.13 already drops
the cached directory and re-reads it once, on the next import from the
archive, so there :func:`install` patches nothing.

``get_spark`` names this module as ``spark.python.daemon.module`` and
puts the checkout on ``spark.executorEnv.PYTHONPATH``; Spark starts it as
``python -m flink_streaming_2_10_spark.worker_daemon``. Workers fork from
the daemon, so they inherit the patch and the archive stamps the daemon
recorded. (``spark.python.worker.module`` cannot carry this:
``pyspark.daemon`` ignores a worker module whose name does not start
with ``pyspark``.)
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread_archive = zipimport.zipimporter.invalidate_caches

#: archive path -> (inode, size, mtime_ns), stat'ed before its last read.
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stat_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only if it changed on disk since
    the last read; otherwise take the directory that read cached."""
    stamp = _stat_stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _reread_archive(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp
    else:
        _read_stamps.pop(self.archive, None)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` on CPython 3.10-3.12;
    True if it patched."""
    if not (3, 10) <= sys.version_info[:2] < (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    """Install the patch, then run ``pyspark.daemon``'s manager."""
    # pyspark.daemon reads the worker module from sys.argv on import.
    from pyspark import daemon

    if install():
        # Read and stamp every archive once here, so forked workers
        # re-read none of them.
        importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # Run under the package name, so workers see this module's functions
    # as flink_streaming_2_10_spark.worker_daemon's, not __main__'s.
    from flink_streaming_2_10_spark.worker_daemon import main as _main

    _main()

"""Python worker daemon: ``pyspark.daemon`` with zip directories kept cached.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``.  On Python 3.11 that
makes every ``zipimporter`` on ``sys.path_importer_cache`` re-read its
whole archive directory: on a local Spark 4 worker, twelve importers over
``pyspark.zip`` (1,328 entries), two over the py4j zip and two over the
spark-core jar (5,359 entries), about 27k entries parsed per task and
0.12-0.21 s of a warm worker's per-task cost.

:func:`install` wraps ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_mtime_ns, st_size)`` changed since the last
read; otherwise the importer keeps the cached directory.  A zip rewritten
on disk is still re-read.  Where Python does not re-read zips eagerly,
the wrapper costs one ``stat`` per importer.

``engine.session.get_spark`` sets ``spark.python.daemon.module`` to this
module, so Spark starts the daemon as ``python -m
projet_graphdb_spark.pyworker``.  The patch is installed before the daemon
forks, so every worker inherits it.  This module imports nothing of the
engine: the daemon stays as light as ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) as stat'ed just before its last
# read; process-wide, like the zipimport._zip_directory_cache it vouches for
_stamps: dict = {}


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    archive = self.archive
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None and _stamps.get(archive) == stamp:
        # another importer over the same archive may have re-read it
        self._files = cached
        return
    # stat before the read: a stamp is never newer than the directory it
    # vouches for, so a write racing the read is caught on the next call
    _read_archive(self)
    if stamp is None:
        _stamps.pop(archive, None)
    else:
        _stamps[archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    # run the patch from the package module, not from ``__main__``, so a
    # worker can check ``invalidate_caches is pyworker._invalidate_caches``
    import importlib

    from projet_graphdb_spark import pyworker
    from pyspark.daemon import manager

    pyworker.install()
    # stamp every archive once here, so forked workers inherit the stamps
    # and skip the re-read on their first task as well
    importlib.invalidate_caches()
    manager()

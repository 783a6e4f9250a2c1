"""Python worker daemon for ``session.get_spark`` (``spark.python.daemon.module``).

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On Python 3.11 that
makes every ``zipimporter`` re-read its archive's whole index. A worker
holds one per package directory it imported from: 12 on
``$SPARK_HOME/python/lib/pyspark.zip`` (1 328 entries), 2 on the
spark-core jar Spark puts on the workers' path (5 359 entries) and 2 on
py4j's zip. That is ~220 ms of CPU per task, paid again on every task
of an already-running worker. This daemon swaps in a guard that re-reads
an archive only when its ``(st_mtime_ns, st_size)`` changed since the
last read, then hands over to ``pyspark.daemon``. Archives already
imported from are stamped here, once; forked workers inherit the stamps.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the index it read
    last while the archive file is unchanged."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and stamp == _stamps.get(self.archive) and files is not None:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def install() -> None:
    """Guard every zipimporter and stamp the archives read so far."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            stamp = _stamp(finder.archive)
            if stamp is not None:
                _stamps[finder.archive] = stamp


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()

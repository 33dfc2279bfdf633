"""Python-worker daemon (``spark.python.daemon.module``): pyspark's own
daemon, with zip archives re-read only when they change.

Every Python-worker task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 that
makes every ``zipimporter`` on ``sys.path`` re-read its whole archive
directory, and the workers import pyspark from ``pyspark.zip`` (1,328
entries, one importer per package in it) with the spark-core jar on the
path too (5,359 entries): about 0.2 s per task for archives that do not
change. Python 3.13 made the call lazy. Here, before the daemon forks any
worker, ``zipimporter.invalidate_caches`` re-reads an archive only when
its ``(st_mtime_ns, st_size)`` differs from when it was last read.

Run by Spark as ``python -m bq_duckdb_spark.pyworker <worker module>``."""

from __future__ import annotations

import os
import sys
import zipimport


def _stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    after it changed; the importers of one archive share the re-read.
    Nothing to do from Python 3.13 on."""
    if sys.version_info >= (3, 13):
        return
    cache = zipimport._zip_directory_cache
    read_at = {path: _stat(path) for path in cache}
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        key = _stat(self.archive)
        if key is not None and key == read_at.get(self.archive) and self.archive in cache:
            self._files = cache[self.archive]
            return
        reread(self)
        read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()

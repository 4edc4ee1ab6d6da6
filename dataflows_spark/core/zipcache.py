"""Stat-keyed ``zipimporter.invalidate_caches`` for CPython < 3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before 3.12 each
``zipimporter.invalidate_caches()`` eagerly re-reads its archive's whole
central directory, and a worker holds one importer per package prefix
over ``pyspark.zip``, the py4j zip and the spark-core jar, so every task
pays a fixed cost set by those archives' sizes, not by its batch. The
replacement reuses the directory last read from an archive while the
archive's ``(st_mtime_ns, st_size)`` is unchanged; a changed or missing
archive goes through the original eager path, so user files and
``addPyFile`` zips are still re-read when they change. CPython 3.12 made
the method lazy itself, so nothing is installed there.

A worker installs this the first time it unpickles a library UDF (which
imports ``dataflows_spark``) and keeps it only because Spark reuses
Python workers across tasks (``spark.python.worker.reuse``, default
true); with reuse off every task starts a fresh worker and pays the
re-read before the UDF is unpickled.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> its (st_mtime_ns, st_size) when its directory was last read
_read_at: dict[str, tuple[int, int] | None] = {}


def _install() -> None:
    eager = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # stat before reading: a rewrite racing the read leaves an old
        # key, which costs one more read next time, never a stale hit
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and _read_at.get(self.archive) == key:
            self._files = files
            return
        eager(self)
        _read_at[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):
    _install()

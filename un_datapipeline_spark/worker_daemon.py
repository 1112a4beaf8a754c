"""Spark's Python worker daemon without the per-task archive re-read.

Spark starts this module with ``python -m`` in place of
``pyspark.daemon`` (``spark.python.daemon.module``, set by
``session.get_spark``) and it runs that daemon unchanged: one forked
worker per task.  Each task's setup
(``pyspark.worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()``.  Before CPython 3.12 that makes every
``zipimport.zipimporter`` on the worker path re-read its archive's
directory: pyspark.zip, once per sub-package importer, and the
spark-core jar Spark puts on the worker PYTHONPATH — 160-230 ms before
each Arrow/pandas UDF task runs (measured on 4 cores).  Here an
importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
changed since the last read, so an archive replaced mid-job is still
picked up.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> its (st_mtime_ns, st_size) at the last directory read
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only a changed
    archive, then read every archive on the path once, so the workers
    forked afterwards start from a known stamp."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
            self._files = files  # another importer of this archive re-read it
            return
        reread(self)
        _read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    if sys.version_info < (3, 12):  # 3.12 made the zipimporter re-read lazy
        install()
    from pyspark.daemon import manager

    manager()

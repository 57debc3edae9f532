"""Skip re-reading unchanged zip archives in a PySpark Python worker.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
that makes every ``zipimport.zipimporter`` on ``sys.path`` re-read its
archive's central directory: ``pyspark.zip`` and the Spark jar, about
5,000 entries each, once per importer. That costs 0.1–0.2 s per task,
whatever the task's input size, and the archives never change while a
worker lives.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)``
differs from the stat taken before its last read. An unchanged archive
keeps the directory already in ``zipimport._zip_directory_cache``. Every
other finder is still invalidated, so a file that ``addPyFile`` puts into
the worker's ``userFiles`` directory imports in the next task, and a zip
that is rewritten is re-read.

The package calls :func:`install` when it is imported. It acts only
inside a PySpark worker, which imports the package when it unpickles a
parse UDF or the route's writer; the driver process is never patched.
The first task of each worker pays the re-read before the package is
imported; the later tasks of a reused worker skip it. The JVM fetches a
task's files before the task starts, so an archive does not change
between a task's own ``invalidate_caches()`` and the import.

On a Python whose ``invalidate_caches`` does not re-read the archive
(CPython 3.12 drops the cached directory and reads it lazily), there is
nothing to skip and :func:`install` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns) taken before its last read
_read_stat: dict = {}


def _stat(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _guard(original):
    def invalidate_caches(self):
        archive = self.archive
        stat = _stat(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stat is not None and files is not None and _read_stat.get(archive) == stat:
            self._files = files
            return
        original(self)
        if stat is not None and archive in zipimport._zip_directory_cache:
            _read_stat[archive] = stat
        else:
            _read_stat.pop(archive, None)

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def rereads_eagerly() -> bool:
    """Whether this Python's ``zipimporter.invalidate_caches`` reads the
    archive's directory again (CPython 3.11 does)."""
    code = getattr(zipimport.zipimporter.invalidate_caches, "__code__", None)
    return code is not None and "_read_directory" in code.co_names


def on_worker() -> bool:
    """Whether this process is a PySpark Python worker: PySpark sets
    ``SparkFiles._is_running_on_worker`` before a task's code runs. A
    process that has not imported PySpark's ``SparkFiles`` is not one."""
    files = sys.modules.get("pyspark.core.files")
    return bool(files is not None
                and getattr(files.SparkFiles, "_is_running_on_worker", False))


def install() -> bool:
    """Installs the guard once, in a PySpark worker whose Python re-reads
    archives eagerly. Returns whether the guard is in place afterwards."""
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return True
    if not (rereads_eagerly() and on_worker()):
        return False
    # the worker read every archive now in the cache during this task's
    # own invalidate_caches(), which ran before this import
    for archive in list(zipimport._zip_directory_cache):
        stat = _stat(archive)
        if stat is not None:
            _read_stat[archive] = stat
    cls.invalidate_caches = _guard(cls.invalidate_caches)
    return True

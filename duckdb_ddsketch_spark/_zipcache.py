"""Keep a PySpark worker from re-reading unchanged zip archives on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files`` in ``pyspark/worker_util.py``). On Python
3.10-3.12 that makes every ``zipimport.zipimporter`` re-read its archive's
whole central directory: ``pyspark.zip`` (one importer per imported
subpackage), the py4j zip and the spark-core jar. That is ~200 ms of CPU per
task on a 4-vCPU VM, paid by every Python UDF task of the package. Python
3.13 only drops the cache there, so it has nothing to skip.

:func:`install` runs when the package is imported. Inside a Spark task on
Python < 3.13 it replaces ``zipimporter.invalidate_caches`` with
:func:`_invalidate_caches`, which keeps an archive's cached directory while
the archive's ``(st_mtime_ns, st_size)`` is the one seen when it was last
read, and runs the stock re-read otherwise. So a changed archive is still
re-read, and the first call per archive after install reads it as before.
Anywhere else (the driver, a plain Python process) it does nothing. The
patch lives as long as the worker process; with worker reuse (Spark's
default) every later task in that worker skips the re-reads.
"""

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last re-read
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    # the stamp is taken before the read, so a write racing the read shows
    # up as a changed stamp on the next call
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` inside a Spark task on
    Python < 3.13; a no-op anywhere else."""
    if sys.version_info[:2] >= (3, 13):
        return
    # a worker imports pyspark.taskcontext before it unpickles a UDF; a
    # process that never did is not running a task
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches

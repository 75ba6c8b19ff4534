"""The worker-side zip rescan skip (``duckdb_ddsketch_spark._zipcache``).

All but the last test run without Spark: a task is faked by setting
``TaskContext``, and every patch is undone by ``monkeypatch`` so the pytest
process stays stock. The last one checks a real reused Python worker."""

import collections
import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.taskcontext import TaskContext

from duckdb_ddsketch_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info[:2] >= (3, 13), reason="zipimport re-reads nothing on 3.13+"
)


@pytest.fixture
def reads(monkeypatch):
    """Central-directory reads per archive path."""
    counts = collections.Counter()
    stock = zipimport._read_directory

    def counting(archive):
        counts[archive] += 1
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # restored on teardown whether or not a test installs the patch
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_zipcache, "_read_stamps", {})
    return counts


@pytest.fixture
def in_task(monkeypatch):
    monkeypatch.setattr(TaskContext, "_taskContext", object.__new__(TaskContext))


def _write(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding ``zc_mod_a``, imported once."""
    path = str(tmp_path / "mods.zip")
    _write(path, ["zc_mod_a"])
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _invalidate(times=1):
    for _ in range(times):
        importlib.invalidate_caches()


def test_the_pytest_process_is_not_patched():
    assert zipimport.zipimporter.invalidate_caches is _zipcache._stock_invalidate_caches


def test_unchanged_archive_is_not_reread(reads, archive, in_task):
    assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"
    _invalidate(3)  # stock: every call re-reads
    assert reads[archive] == 1 + 3

    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
    _invalidate(3)  # the first call after install reads, the rest skip
    assert reads[archive] == 1 + 3 + 1
    importer = sys.path_importer_cache[archive]
    assert importer._files is zipimport._zip_directory_cache[archive]


def test_changed_archive_is_reread(reads, archive, in_task):
    importlib.import_module("zc_mod_a")
    _zipcache.install()
    _invalidate(2)
    assert reads[archive] == 2

    _write(archive, ["zc_mod_a", "zc_mod_b"])  # new size
    _invalidate(2)
    assert reads[archive] == 3
    assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"

    st = os.stat(archive)  # same size, new mtime
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    _invalidate(2)
    assert reads[archive] == 4

    os.remove(archive)  # gone: dropped as the stock version drops it
    _invalidate()
    assert archive not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[archive]._files == {}


def test_install_is_a_no_op_outside_a_task(reads, archive):
    assert TaskContext.get() is None
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._stock_invalidate_caches


def test_install_is_a_no_op_on_python_3_13(reads, archive, in_task, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._stock_invalidate_caches


def test_a_reused_worker_keeps_the_patch(spark):
    """Three single-partition jobs on one reused Python worker: the package,
    imported in job 1, has patched the worker before jobs 2 and 3 start;
    the driver stays stock."""

    def probe(rows):
        import os
        import zipimport

        for _ in rows:  # a worker that leaves input unread is not reused
            pass

        def patched():
            zc = sys.modules.get("duckdb_ddsketch_spark._zipcache")
            return zc is not None and zipimport.zipimporter.invalidate_caches is zc._invalidate_caches

        before = patched()
        import duckdb_ddsketch_spark  # noqa: F401

        yield os.getpid(), before, patched()

    sc = spark.sparkContext
    # a Python environment of its own gives these jobs their own worker pool
    # (Spark keys its idle workers by environment), so job 1 starts a worker
    # and jobs 2 and 3 reuse it
    key = "DDSKETCH_TEST_WORKER_POOL"
    sc.environment[key] = str(os.getpid())
    try:
        runs = [sc.parallelize([0], 1).mapPartitions(probe).collect()[0] for _ in range(3)]
    finally:
        del sc.environment[key]
    (pid, _, patched_1), *later = runs
    assert patched_1
    assert [run[0] for run in later] == [pid, pid]
    assert all(before and after for _, before, after in later)
    assert zipimport.zipimporter.invalidate_caches is _zipcache._stock_invalidate_caches

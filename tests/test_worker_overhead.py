"""Fixed cost per Spark Python task (kraken_spark/_zipcache.py).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; before Python 3.13 each zipimporter on ``pyspark.zip`` then
re-reads the archive's central directory (16 reads of 1,328 entries per
task). Importing kraken_spark installs a stat-keyed wrapper that skips the
re-read while the archive is unchanged. Two pins:

* worker side: after a worker imported kraken_spark, a task's
  ``invalidate_caches()`` reads no zip directory;
* semantics, driver only: a rewritten archive is still re-read, so a new
  module in it imports (the pyFiles zip deploy stays correct), and an
  unchanged one is not.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from kraken_spark import _zipcache  # importing the package installs it

EAGER_READ = sys.version_info < (3, 13)


def _count_reads(fn):
    """Run fn() with zipimport._read_directory wrapped by a counter."""
    orig = zipimport._read_directory
    n = [0]

    def counted(archive):
        n[0] += 1
        return orig(archive)

    zipimport._read_directory = counted
    try:
        fn()
    finally:
        zipimport._read_directory = orig
    return n[0]


def test_worker_task_reads_no_zip_directory():
    pytest.importorskip("pyspark")
    from kraken_spark.session import get_spark

    spark = get_spark(app="tests-worker-overhead", cores=1,
                      shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")

    def probe(it):
        # self-contained: the worker cannot import this test module
        import importlib as il
        import zipimport as zi

        import kraken_spark  # noqa: F401

        list(it)
        orig, n = zi._read_directory, [0]

        def counted(archive):
            n[0] += 1
            return orig(archive)

        zi._read_directory = counted
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = orig
        zips = sum(isinstance(f, zi.zipimporter)
                   for f in sys.path_importer_cache.values())
        wrapper = zi.zipimporter.invalidate_caches
        yield (n[0], wrapper.__module__ == "kraken_spark._zipcache", zips)

    rows = spark.sparkContext.parallelize(range(8), 8).mapPartitions(
        probe).collect()
    assert len(rows) == 8
    reads, wrapped, zips = rows[-1]
    if EAGER_READ:
        assert zips > 0  # the worker does import from pyspark.zip
        assert reads == 0, rows
        assert wrapped
    else:
        assert not wrapped


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_changed_archive_is_reread_unchanged_is_not(tmp_path):
    a, b = "_zipcache_probe_a", "_zipcache_probe_b"
    path = str(tmp_path / "probe.zip")
    _write_zip(path, [a])
    sys.path.insert(0, path)
    try:
        assert importlib.import_module(a).NAME == a
        with pytest.raises(ImportError):
            importlib.import_module(b)
        importlib.invalidate_caches()  # records the archive's stat
        unchanged = _count_reads(importlib.invalidate_caches)
        _write_zip(path, [a, b])  # same path: size and mtime change
        changed = _count_reads(importlib.invalidate_caches)
        assert importlib.import_module(b).NAME == b
        if EAGER_READ:
            assert zipimport.zipimporter.invalidate_caches is \
                _zipcache.invalidate_caches
            assert unchanged == 0
            assert changed == 1
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        for m in (a, b):
            sys.modules.pop(m, None)


def test_missing_archive_empties_its_importer(tmp_path):
    path = tmp_path / "gone.zip"
    _write_zip(str(path), ["_zipcache_probe_c"])
    imp = zipimport.zipimporter(str(path))
    imp.invalidate_caches()
    assert imp.find_spec("_zipcache_probe_c") is not None
    path.unlink()
    imp.invalidate_caches()
    assert imp.find_spec("_zipcache_probe_c") is None

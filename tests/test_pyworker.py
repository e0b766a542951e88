"""Zip-archive directory re-reads (tetrex_spark/_pyworker.py): after the
package is imported, `importlib.invalidate_caches()` re-reads a zip
archive's directory only when the archive changed on disk, in the driver
and in PySpark workers. Python >= 3.13 re-reads lazily and the shim does
nothing there."""

import importlib
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 re-reads zip directories lazily"
)


def _count_rereads(monkeypatch) -> list:
    calls = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_not_reread(tmp_path, monkeypatch):
    import tetrex_spark  # noqa: F401  (installs the shim)

    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipmod_a.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipmod_a", "zipmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipmod_a").VALUE == 1
    importlib.invalidate_caches()  # stamps every archive on the path

    calls = _count_rereads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == []

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zipmod_b.py", "VALUE = 2\n" + "# padding\n" * 8)
    importlib.invalidate_caches()
    assert calls == [str(archive)]
    assert importlib.import_module("zipmod_b").VALUE == 2


def test_worker_task_rereads_nothing(spark):
    """A task whose function refers to the package (as every library UDF
    does) finds the shim installed by unpickling the function; the worker
    re-reads each archive at most once, at its first invalidation after
    the install, and never again."""
    from tetrex_spark.operators import sketch_build

    def probe(_):
        import importlib as il
        import zipimport as zi

        installed = zi.zipimporter.invalidate_caches.__module__ == "tetrex_spark._pyworker"
        archives = {
            getattr(f, "archive", None)
            for f in sys.path_importer_cache.values()
            if isinstance(f, zi.zipimporter)
        }
        calls = []
        original = zi._read_directory

        def counting(archive):
            calls.append(archive)
            return original(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()  # what the next task's start does
            first = list(calls)
            il.invalidate_caches()
        finally:
            zi._read_directory = original
        assert sketch_build.SKETCH_ROW_SCHEMA is not None
        yield installed, len(archives), len(first), len(calls) - len(first)

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(got) == 4
    for installed, n_archives, first, second in got:
        assert installed
        assert n_archives > 0  # the worker imports pyspark from zips
        assert first <= n_archives
        assert second == 0

"""The worker's zip-invalidation hook (fastfilter_spark._worker): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``, a
changed or removed one still is, and the hook installs only inside a
Spark task on CPython < 3.13."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from fastfilter_spark import _worker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ zipimport no longer re-reads eagerly")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(name, source)


@pytest.fixture
def read_counter(monkeypatch):
    """Counts ``zipimport._read_directory`` calls (directory reads)."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def in_task(monkeypatch):
    """The gate forced on: a TaskContext is present.  Registers the
    original method with monkeypatch first, so teardown un-patches
    zipimport whatever the test installed."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _worker._original_invalidate)
    monkeypatch.setattr(_worker, "_stamps", {})
    monkeypatch.setattr(TaskContext, "get", staticmethod(lambda: object()))


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``a`` (unique name) on ``sys.path``."""
    tag = uuid.uuid4().hex[:8]
    names = {"a": f"ffz_a_{tag}", "b": f"ffz_b_{tag}",
             "pkg": f"ffz_pkg_{tag}"}
    path = tmp_path / "mods.zip"
    _write_zip(path, {f"{names['a']}.py": "X = 1\n",
                      f"{names['pkg']}/__init__.py": ""})
    monkeypatch.syspath_prepend(str(path))
    yield str(path), names
    for n in names.values():
        sys.modules.pop(n, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


def test_changed_archive_is_reread(in_task, zip_on_path):
    path, names = zip_on_path
    assert _worker.install_zip_invalidation_hook()
    assert importlib.import_module(names["a"]).X == 1
    importlib.invalidate_caches()
    _write_zip(path, {f"{names['a']}.py": "X = 1\n",
                      f"{names['pkg']}/__init__.py": "",
                      f"{names['b']}.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(names["b"]).Y == 2


def test_unchanged_archive_is_not_reread(in_task, zip_on_path, read_counter):
    path, names = zip_on_path
    importlib.import_module(names["a"])
    # control: CPython's own method re-reads an unchanged archive
    importlib.invalidate_caches()
    assert path in read_counter
    assert _worker.install_zip_invalidation_hook()
    importlib.invalidate_caches()          # first call stamps the archive
    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter == []


def test_importers_share_the_reread_directory(in_task, zip_on_path):
    path, names = zip_on_path
    root = zipimport.zipimporter(path)
    sub = zipimport.zipimporter(f"{path}/{names['pkg']}")
    assert _worker.install_zip_invalidation_hook()
    _write_zip(path, {f"{names['a']}.py": "X = 3\n",
                      f"{names['b']}.py": "Y = 4\n"})
    root.invalidate_caches()
    sub.invalidate_caches()
    assert root._files is sub._files is zipimport._zip_directory_cache[path]
    assert f"{names['b']}.py" in root._files


def test_removed_archive_takes_the_original_error_path(in_task, zip_on_path):
    path, names = zip_on_path
    imp = zipimport.zipimporter(path)
    assert _worker.install_zip_invalidation_hook()
    imp.invalidate_caches()
    assert path in _worker._stamps
    os.remove(path)
    imp.invalidate_caches()
    assert imp._files == {}
    assert path not in zipimport._zip_directory_cache
    assert path not in _worker._stamps


def test_no_install_outside_a_spark_task(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _worker._original_invalidate)
    assert TaskContext.get() is None
    assert not _worker.install_zip_invalidation_hook()
    assert zipimport.zipimporter.invalidate_caches \
        is _worker._original_invalidate


def test_no_install_on_313(in_task, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _worker.install_zip_invalidation_hook()
    assert zipimport.zipimporter.invalidate_caches \
        is _worker._original_invalidate


def test_install_is_once_per_process(in_task):
    assert _worker.install_zip_invalidation_hook()
    hooked = zipimport.zipimporter.invalidate_caches
    assert _worker.install_zip_invalidation_hook()
    assert zipimport.zipimporter.invalidate_caches is hooked


def test_worker_runs_the_hook_after_a_library_udf(spark):
    """In a real Python worker: after a ``contains_udf`` probe, a task
    sees the library's ``invalidate_caches``, holds zipimporters (so the
    check is not vacuous), and once each archive is stamped an
    ``importlib.invalidate_caches()`` reads no zip directory."""
    import pandas as pd
    from pyspark.sql import functions as F

    import fastfilter_spark as ffs

    keys = spark.range(0, 2000).select(F.col("id").alias("k"))
    sf, _ = ffs.build_sharded(keys, "k", shard_bits=1)
    assert keys.where(sf.contains_udf(spark)(F.col("k"))).count() == 2000

    def report(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        from fastfilter_spark import _worker as w

        for _ in batches:
            pass
        hooked = zi.zipimporter.invalidate_caches is w._invalidate_if_changed
        importers = sum(isinstance(f, zi.zipimporter)
                        for f in s.path_importer_cache.values())
        il.invalidate_caches()
        reads = []
        real = zi._read_directory
        zi._read_directory = lambda a: reads.append(a) or real(a)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        yield pd.DataFrame({"hooked": [hooked], "importers": [importers],
                            "reads": [len(reads)]})

    rows = (spark.range(0, 4, numPartitions=2)
            .mapInPandas(report, "hooked boolean, importers long, reads long")
            .collect())
    assert len(rows) == 2
    for r in rows:
        assert r.hooked
        assert r.importers > 0
        assert r.reads == 0

"""The engine's lazy ``zipimporter.invalidate_caches``: a PySpark worker
calls ``importlib.invalidate_caches()`` on every task, and before
Python 3.13 each zip importer then re-reads its archive's directory.
Importing the engine package makes unchanged archives skip the read."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import multi_crm_cross_sell_spark as pkg


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory`` from now on."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def archive_on_path(tmp_path, monkeypatch):
    """A zip of one module on ``sys.path``, imported once; its modules
    leave ``sys.modules`` afterwards."""
    archive = tmp_path / "lazylib.zip"
    _write_zip(archive, {"lazylib_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    names = ("lazylib_a", "lazylib_b")
    assert importlib.import_module("lazylib_a").X == 1
    yield str(archive)
    for name in names:
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(archive_on_path, reads):
    importlib.invalidate_caches()  # the first call reads and stamps
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive_on_path not in reads
    importer = sys.path_importer_cache[archive_on_path]
    importer.invalidate_caches()
    assert archive_on_path not in reads
    assert "lazylib_a.py" in importer._files


def test_rewritten_archive_is_reread(archive_on_path, reads):
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(
        archive_on_path, {"lazylib_a": "X = 1\n", "lazylib_b": "Y = 2\n"}
    )
    importlib.invalidate_caches()
    assert reads.count(archive_on_path) == 1
    assert importlib.import_module("lazylib_b").Y == 2


def test_importing_the_package_twice_wraps_once():
    hook = zipimport.zipimporter.invalidate_caches
    importlib.reload(pkg)
    pkg._install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is hook
    if sys.version_info < (3, 13):
        assert hook.lazy


def test_engine_udf_worker_runs_the_lazy_hook(spark):
    """A UDF that references the engine (as every engine UDF does, by
    reference) imports the package in the worker before it runs, so
    the worker's later tasks use the lazy method."""
    from multi_crm_cross_sell_spark.streaming import stateful

    def probe(batches):
        import zipimport as zi

        stateful.RUNNING_OUT  # unpickling this pulls in the engine
        hook = zi.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "module": [hook.__module__],
                "lazy": [bool(getattr(hook, "lazy", False))],
            }
        )

    got = (
        spark.range(8, numPartitions=2)
        .mapInPandas(probe, "module string, lazy boolean")
        .distinct()
        .collect()
    )
    lazy = sys.version_info < (3, 13)
    want_module = "multi_crm_cross_sell_spark" if lazy else "zipimport"
    assert [(r.module, r.lazy) for r in got] == [(want_module, lazy)]

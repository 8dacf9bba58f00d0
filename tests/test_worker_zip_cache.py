"""Python task start-up: the stat-checked `zipimporter.invalidate_caches`
that `parallelutilities_jl_spark.session` installs inside PySpark worker
processes on CPython < 3.12. An unchanged archive must not be re-read
on `importlib.invalidate_caches()` (PySpark calls it at the start of
every task), a changed archive must be, and nothing is installed in the
driver or on 3.12+."""

from __future__ import annotations

import importlib
import sys
import types
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from parallelutilities_jl_spark import session

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads zip directories lazily",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def fresh_patch(monkeypatch):
    """Undo whatever the test installs on `zipimporter`."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(session, "_ZIP_STAMPS", {})
    return monkeypatch


def _count_reads(monkeypatch, archive):
    reads = []
    orig = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@old_python
def test_unchanged_archive_is_not_reread(fresh_patch, tmp_path):
    mp = fresh_patch
    archive = str(tmp_path / "zc_pkg.zip")
    _write_zip(archive, ["zc_mod_a"])
    mp.syspath_prepend(archive)
    for m in ("zc_mod_a", "zc_mod_b"):
        mp.delitem(sys.modules, m, raising=False)
    assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"

    mp.setattr(TaskContext, "get", staticmethod(lambda: object()))
    assert session._install_zip_stat_check()
    assert not session._install_zip_stat_check()  # once per process
    reads = _count_reads(mp, archive)

    importlib.invalidate_caches()  # no stamp yet: read and stamp
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1

    _write_zip(archive, ["zc_mod_a", "zc_mod_b"])
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_nothing_installed_outside_a_task(fresh_patch):
    before = zipimport.zipimporter.invalidate_caches
    assert TaskContext.get() is None
    assert not session._install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is before


def test_nothing_installed_on_python_312(fresh_patch):
    mp = fresh_patch
    before = zipimport.zipimporter.invalidate_caches
    mp.setattr(TaskContext, "get", staticmethod(lambda: object()))
    mp.setattr(session, "sys", types.SimpleNamespace(version_info=(3, 12, 0)))
    assert not session._install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is before


@old_python
def test_warm_workers_skip_the_reread_and_see_new_files(spark, tmp_path):
    def _in_task_reads(_it):
        import importlib
        import os
        import zipimport

        from parallelutilities_jl_spark import session as s

        # stamps exist once an earlier task's start-up invalidation ran
        # with the patch installed, i.e. this worker was warmed
        warmed = bool(s._ZIP_STAMPS)
        reads = []
        orig = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return orig(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        yield (os.getpid(), warmed, len(reads), len(s._ZIP_STAMPS))

    sc = spark.sparkContext
    session.ensure_package_on_executors(spark)
    n = sc.defaultParallelism
    sc.parallelize(range(n), n).mapPartitions(_in_task_reads).collect()

    warm = []
    for _ in range(3):  # a task may land on a worker no test warmed yet
        got = (
            sc.parallelize(range(n), n).mapPartitions(_in_task_reads).collect()
        )
        warm = [r for r in got if r[1]]
        if warm:
            break
    assert warm, got
    # at least pyspark.zip and the py4j zip were stamped
    assert all(r[3] >= 2 for r in warm), warm
    assert all(r[2] == 0 for r in warm), warm

    archive = tmp_path / "zc_fresh.zip"
    _write_zip(archive, ["zc_fresh_mod"])
    sc.addPyFile(str(archive))

    def use_new_module(_it):
        import zc_fresh_mod

        yield zc_fresh_mod.NAME

    got = sc.parallelize(range(n), n).mapPartitions(use_new_module).collect()
    assert got == ["zc_fresh_mod"] * n

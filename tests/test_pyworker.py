"""The stat-gated zip-importer refresh (flink_framework_spark/_pyworker.py).

A Python worker refreshes every import cache before each task; before
CPython 3.12 that re-reads every zip archive's central directory once
per importer. The gate must re-read an archive that changed, skip one
that did not, and stay out of the way on the driver and on 3.12+.
"""

from __future__ import annotations

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pytest

from flink_framework_spark import _pyworker

needs_eager_refresh = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ refreshes zip importers lazily; the gate is off")


@pytest.fixture()
def as_worker(monkeypatch):
    """Pretend to be a PySpark worker; undo the install afterwards."""
    monkeypatch.setitem(sys.modules, "pyspark.worker",
                        types.ModuleType("pyspark.worker"))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    return monkeypatch


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one package; yields (path, package,
    writer)."""
    path = str(tmp_path / "mods.zip")
    pkg = f"ffs_pyworker_probe_{os.getpid()}_{tmp_path.name}"

    def write(*modules: str) -> None:
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            for m in modules:
                z.writestr(f"{pkg}/{m}.py", f"NAME = {m!r}\n")

    write("a")
    monkeypatch.syspath_prepend(path)
    yield path, pkg, write
    for name in [n for n in sys.modules if n.split(".")[0] == pkg]:
        del sys.modules[name]
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch) -> list:
    reads = []
    real = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@needs_eager_refresh
def test_rewritten_archive_is_reread(as_worker, archive):
    path, pkg, write = archive
    assert _pyworker.install()
    assert importlib.import_module(f"{pkg}.a").NAME == "a"
    importlib.invalidate_caches()  # first refresh: records the stat
    write("a", "b")
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.b").NAME == "b"


@needs_eager_refresh
def test_unchanged_archive_is_not_reread(as_worker, archive):
    path, pkg, _ = archive
    assert _pyworker.install()
    importlib.import_module(f"{pkg}.a")
    # two importers on one archive, as the spark-core jar and
    # pyspark.zip each carry several on a worker
    extra = zipimport.zipimporter(os.path.join(path, pkg))
    reads = _count_reads(as_worker)
    importlib.invalidate_caches()
    extra.invalidate_caches()
    assert reads.count(path) == 1  # once per archive, not per importer
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
        extra.invalidate_caches()
    assert reads.count(path) == 0
    assert extra._files is zipimport._zip_directory_cache[path]


def test_install_is_idempotent(as_worker):
    installed = _pyworker.install()
    gate = zipimport.zipimporter.invalidate_caches
    assert _pyworker.install() == installed
    assert zipimport.zipimporter.invalidate_caches is gate


def test_noop_on_driver(monkeypatch):
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    before = zipimport.zipimporter.invalidate_caches
    assert not _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before
    assert not getattr(before, "stat_gated", False)


def test_noop_on_312(as_worker):
    as_worker.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    before = zipimport.zipimporter.invalidate_caches
    assert not _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_installed_on_spark_workers(spark):
    """Any engine code a worker unpickles imports the package, which
    installs the gate."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def probe(v):
        import os
        import zipimport

        import flink_framework_spark.session  # noqa: F401  (engine import)

        gated = getattr(zipimport.zipimporter.invalidate_caches,
                        "stat_gated", False)
        return v.map(lambda _: f"{os.getpid()}:{gated}")

    # four partitions: four tasks
    rows = (spark.range(0, 8, 1, 4).select(probe("id").alias("r"))
            .distinct().collect())
    pids = {r.r.split(":")[0] for r in rows}
    gated = {r.r.split(":")[1] for r in rows}
    assert pids and str(os.getpid()) not in pids
    assert gated == {str(sys.version_info < (3, 12))}


def test_shipped_package_dir_removed_at_exit(tmp_path):
    """The zip that session shipping stages for executors lives while
    the interpreter does, and is removed at exit."""
    import subprocess
    import textwrap

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent("""
        import os, types
        from flink_framework_spark.session import _ship_package

        shipped = []
        sc = types.SimpleNamespace(addPyFile=shipped.append)
        _ship_package(types.SimpleNamespace(sparkContext=sc))
        _ship_package(types.SimpleNamespace(sparkContext=sc))
        assert len(shipped) == 1 and os.path.isfile(shipped[0])
        print(shipped[0])
    """)
    env = {**os.environ, "TMPDIR": str(tmp_path),
           "PYTHONPATH": os.pathsep.join(
               p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, check=True)
    archive = out.stdout.strip().splitlines()[-1]
    assert archive.startswith(str(tmp_path))
    assert not os.path.exists(os.path.dirname(archive))
    assert not list(tmp_path.glob("ffs_pkg_*"))

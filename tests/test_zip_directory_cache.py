"""Zip-directory caching for Python workers (``session.cache_zip_directories``)
and the driver-side lifetime of the zip ``ship_package`` writes.

Every check counts ``zipimport._read_directory`` calls instead of timing
them: each call is one full parse of an archive's central directory, the
cost a worker otherwise pays for every importer on every task.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from mimir_spark.session import cache_zip_directories

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture
def read_counter(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    calls: list[str] = []
    stock_read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def as_worker(monkeypatch):
    """Pretend this process is a Spark Python worker; whatever gets
    installed on ``zipimporter`` is undone after the test."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)


def _write_zip(path: Path, pkg: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(zipfile.ZipInfo(f"{pkg}/__init__.py"), "")
        for name, body in modules.items():
            zf.writestr(zipfile.ZipInfo(f"{pkg}/{name}.py"), body)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A package imported from a zip on ``sys.path``: two importers
    (the archive root and the package dir) share one archive."""
    pkg = f"zipcache_{tmp_path.name.replace('-', '_')}"
    archive = tmp_path / "pkg.zip"
    _write_zip(archive, pkg, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module(f"{pkg}.a")
    yield str(archive), pkg
    for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache
                if k.startswith(str(archive))]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(archive), None)


def _importers(archive: str) -> list:
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive]


def _reads(calls: list[str], archive: str) -> int:
    return sum(1 for a in calls if a == archive)


def test_stock_rereads_once_per_importer(zip_pkg, read_counter):
    """What the cache removes: the stock method re-reads the archive
    for every importer that points into it."""
    archive, _ = zip_pkg
    n = len(_importers(archive))
    assert n >= 2
    importlib.invalidate_caches()
    assert _reads(read_counter, archive) == n


def test_unchanged_archive_is_not_reread(as_worker, zip_pkg, read_counter):
    archive, _ = zip_pkg
    cache_zip_directories()
    for _ in range(3):
        importlib.invalidate_caches()
    assert _reads(read_counter, archive) == 0


def test_rewritten_archive_is_reread_once(as_worker, zip_pkg, read_counter):
    archive, pkg = zip_pkg
    cache_zip_directories()
    assert len(_importers(archive)) >= 2
    _write_zip(Path(archive), pkg, {"a": "X = 1\n", "b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert _reads(read_counter, archive) == 1
    assert importlib.import_module(f"{pkg}.b").Y == 2
    importlib.invalidate_caches()
    assert _reads(read_counter, archive) == 1


def test_new_mtime_or_new_size_alone_triggers_reread(as_worker, zip_pkg,
                                                     read_counter):
    archive, pkg = zip_pkg
    cache_zip_directories()
    st = os.stat(archive)
    # same bytes, new mtime
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert _reads(read_counter, archive) == 1
    # new size, mtime put back to the one already recorded
    st = os.stat(archive)
    _write_zip(Path(archive), pkg, {"a": "X = 1\n", "c": "Z = 3\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(archive).st_size != st.st_size
    importlib.invalidate_caches()
    assert _reads(read_counter, archive) == 2
    assert importlib.import_module(f"{pkg}.c").Z == 3


def test_removed_archive_behaves_as_stock(as_worker, zip_pkg, read_counter):
    archive, pkg = zip_pkg
    cache_zip_directories()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in _importers(archive))
    with pytest.raises(ImportError):
        importlib.import_module(f"{pkg}.d")
    # the archive comes back: it is read again, and its new module imports
    _write_zip(Path(archive), pkg, {"a": "X = 1\n", "d": "W = 4\n"})
    read_counter.clear()
    importlib.invalidate_caches()
    assert _reads(read_counter, archive) == 1
    assert importlib.import_module(f"{pkg}.d").W == 4


def test_install_is_idempotent(as_worker):
    cache_zip_directories()
    installed = zipimport.zipimporter.invalidate_caches
    cache_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_noop_outside_a_worker(monkeypatch):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    stock = zipimport.zipimporter.invalidate_caches
    cache_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_noop_on_python_313(as_worker, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    stock = zipimport.zipimporter.invalidate_caches
    cache_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_reused_worker_rereads_no_zip(spark):
    """Inside real Spark Python workers, a task's
    ``importlib.invalidate_caches()`` reads no zip directory once the
    engine package is loaded. A worker counts as reused when an earlier
    task already loaded the engine there; the probe runs twice, so
    some of its tasks land on one."""
    import pandas as pd

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reused = "mimir_spark" in sys.modules
        import mimir_spark  # noqa: F401  (loads the cache in a fresh worker)

        calls = []
        stock_read = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return stock_read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"reused": [reused], "reads": [len(calls)],
                            "importers": [importers]})

    df = spark.range(4).repartition(4)
    schema = "reused boolean, reads long, importers long"
    rows = pd.DataFrame(
        [r for _ in range(2) for r in df.mapInPandas(probe, schema).collect()],
        columns=["reused", "reads", "importers"])
    assert rows["reused"].any(), "no task ran on a reused worker"
    assert (rows["importers"] > 0).all()
    assert rows["reads"].tolist() == [0] * len(rows)


def test_shipped_zip_removed_when_driver_exits(tmp_path):
    """``ship_package``'s zip outlives ``addPyFile`` but not the driver."""
    driver = textwrap.dedent("""
        import os, tempfile
        from pyspark.sql import SparkSession
        from mimir_spark.session import ship_package

        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        ship_package(spark)
        path = os.path.join(tempfile.gettempdir(),
                            f"mimir_spark_pyfiles_{os.getpid()}.zip")
        assert os.path.exists(path), path
        assert spark.range(3).count() == 3
        print(path)
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path),
               PYTHONPATH=os.pathsep.join(
                   [str(REPO), os.environ.get("PYTHONPATH", "")]))
    out = subprocess.run([sys.executable, "-c", driver], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    path = out.stdout.strip().splitlines()[-1]
    assert Path(path).parent == tmp_path
    assert not os.path.exists(path)
    assert not list(tmp_path.glob("mimir_spark_pyfiles_*"))

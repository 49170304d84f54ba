"""SparkSession factory with scale-oriented defaults.

Local mode is a stand-in for a multi-executor cluster: every knob here
is chosen so the same plan shape survives a 1000-executor deployment
(AQE on, skew-join on, UTC timezone pinned for oracle comparison,
Arrow enabled for the pandas-UDF codec path).
"""

from __future__ import annotations

import os
import sys
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming."
                         "checkpointing.FileSystemBasedCheckpointFileManager")


def get_spark(
    app_name: str = "mimir_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to ``2 * cpus`` — on a real cluster
    you would size this to total cores; AQE coalesces the excess.
    """
    from pyspark.sql import SparkSession

    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or 2 * cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # one C1 + one C2 JIT thread instead of JDK 17's 1 + 2 on 4
        # cores: in these short-lived JVMs the C2 queue never drains,
        # and compiling took about half the CPU of a live-tail
        # micro-batch, competing with the task slots. Hot code still
        # reaches C2. defaultJavaOptions, so a caller's
        # extraJavaOptions adds to the flag instead of replacing it.
        .config("spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2")
        # streaming checkpoint and state-store files go through
        # Hadoop's FileSystem API instead of FileContext: FileContext's
        # rename asks for both paths' link status, which RawLocalFileSystem
        # answers without the native Hadoop library by forking a
        # `readlink` per path (about 156 forks per live-tail
        # micro-batch, all failing). On file: both managers end in the
        # same check-then-rename. stream_job puts Spark's default back
        # for other schemes, where FileContext's rename is atomic.
        .config(CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd parquet output (guide §6): ~38% smaller than snappy on
        # the transcript corpus (625 -> 386 MB) at similar read speed
        # — less serial I/O per cold scan on the shared disk, smaller
        # tier stores at 100 TB. Read side is codec-agnostic.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # sporadic python-worker crashes on this host wedge a stage
        # otherwise silently; faulthandler makes them diagnosable
        .config("spark.python.worker.faulthandler.enabled", "true")
        # At 100 TB you want bounded scan partitions; 128 MiB is the
        # sweet spot for parquet row-group alignment.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make mimir_spark importable in PYTHON WORKERS regardless of cwd:
    Arrow-UDF closures deserialize by importing their defining module
    on the worker, which sees only the worker's cwd/PYTHONPATH. Zips
    the package once per process and addPyFile()s it — the same
    mechanism spark-submit --py-files uses (no-op when already added).

    The zip is removed when the driver process exits, not right after
    addPyFile: outside local mode the driver's file server serves it
    from this path for the context's whole life."""
    sc = spark.sparkContext
    if getattr(sc, "_mimir_spark_shipped", False):
        return
    import atexit
    import pathlib
    import shutil
    import tempfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    pid = os.getpid()
    base = pathlib.Path(tempfile.gettempdir()) / f"mimir_spark_pyfiles_{pid}"
    zpath = shutil.make_archive(str(base), "zip", root_dir=str(pkg_dir.parent),
                                base_dir="mimir_spark")
    atexit.register(_remove_owned_file, zpath, pid)
    sc.addPyFile(zpath)
    sc._mimir_spark_shipped = True


def _remove_owned_file(path: str, owner_pid: int) -> None:
    # a forked child that exits normally runs its parent's atexit
    # hooks too; only the process that wrote the file may remove it
    if os.getpid() == owner_pid:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


def cache_zip_directories() -> None:
    """Stop Python workers from re-reading every zip on their path per task.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``pyspark.worker_util.setup_spark_files``).
    Before CPython 3.13 (gh-103200) that makes every ``zipimporter``
    in ``sys.path_importer_cache`` re-parse its archive's whole central
    directory: a worker holds about a dozen importers on ``pyspark.zip``
    and two on the Spark core jar. With pyspark 4.1.2 on a 4-core x86
    VM that is ~0.3 s of CPU per task, more than the rollup kernels
    spend in a live-tail micro-batch.

    Installed, ``zipimporter.invalidate_caches`` re-reads an archive
    only when its ``(st_mtime_ns, st_size)`` changed since its last
    read, once per archive however many importers share it, and
    otherwise reuses ``zipimport._zip_directory_cache``. An archive
    that can no longer be stat'ed gets the stock behaviour.

    No-op outside a Spark Python worker and on Python >= 3.13, where
    the read is already lazy; idempotent. The package's ``__init__``
    calls it, so any engine module imported inside a worker installs it.
    """
    if sys.version_info >= (3, 13):
        return
    files_mod = sys.modules.get("pyspark.core.files")
    if files_mod is None or not getattr(files_mod.SparkFiles,
                                        "_is_running_on_worker", False):
        return
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_mimir_stat_keyed", False):
        return
    # An archive already cached is taken as read at its current stamp:
    # a worker imports the engine only inside a task, after that task's
    # setup re-read every archive, and Spark fetches a task's files
    # before its worker starts it.
    read_at: dict[str, tuple[int, int]] = {}
    for archive in zipimport._zip_directory_cache:
        try:
            st = os.stat(archive)
        except OSError:
            continue
        read_at[archive] = (st.st_mtime_ns, st.st_size)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        # stat before the read: a write racing the read leaves an older
        # stamp behind, so the next call reads again. A failed read
        # drops the archive from the cache, which forces the next read.
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stamp:
            self._files = files
        else:
            stock(self)
            read_at[self.archive] = stamp

    invalidate_caches._mimir_stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches

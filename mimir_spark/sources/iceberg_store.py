"""Iceberg backend for the tiered rollup store.

Same public surface as ``lineage.TieredStore`` (the plain-parquet
backend), so ``run_rollup_job`` / ``compact_job`` flip backends via the
``lineage.tiered_store`` factory — configuration, not code. The
documented op mapping (lineage.py module docstring) becomes real calls:

| parquet backend                       | Iceberg backend                |
|---------------------------------------|--------------------------------|
| atomic ``p=`` directory replace       | conditional ``overwrite(p=…)`` |
| lineage marker file per shard         | MERGE INTO lineage table       |
| ``expire`` = rmtree date dirs         | DELETE on partition predicate  |
| staged write + rename promote         | one snapshot commit            |
| ``upgrade_tier`` rewrite              | overwrite + rewrite_data_files |

This container has no Iceberg jars, so the constructor raises a clear
RuntimeError unless ``iceberg_available`` (sources/tables.py) finds the
runtime; everything below is exercised only on a real cluster. The
guard (not the methods) is what the sandbox tests cover.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import iceberg_available

_ROLLUP_DDL = """
CREATE TABLE IF NOT EXISTS {table} (
  tier STRING, kind STRING, series_key STRING, metric STRING,
  bucket_ts TIMESTAMP, cnt BIGINT, sum_v DOUBLE, min_v DOUBLE,
  max_v DOUBLE, last_v DOUBLE, chunk BINARY,
  p INT, bucket_date DATE
) USING iceberg
PARTITIONED BY (tier, p, bucket_date)
"""

_LINEAGE_DDL = """
CREATE TABLE IF NOT EXISTS {table} (
  job_id STRING, partition_id INT, rows_in BIGINT, points_out BIGINT,
  bytes_compressed BIGINT, committed_at TIMESTAMP
) USING iceberg
PARTITIONED BY (job_id)
"""


class IcebergTieredStore:
    """Tiered rollup store over two Iceberg tables (data + lineage).

    ``table`` is a catalog identifier (e.g. ``prod.metrics.rollup``);
    the lineage table defaults to ``<table>_lineage``. Commit protocol
    is identical to the parquet backend: data snapshot first, lineage
    row second — a shard is done iff its lineage row is readable.
    Iceberg's snapshot isolation makes each step atomic table-wide
    (stronger than the per-directory rename), and a crash between the
    two steps re-runs only uncommitted shards, overwriting their
    partitions idempotently.
    """

    def __init__(self, spark: SparkSession, table: str,
                 lineage_table: str | None = None):
        if spark is None:
            raise ValueError("IcebergTieredStore needs the SparkSession "
                             "that owns the Iceberg catalog")
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath — add the "
                "iceberg-spark-runtime jar and a spark.sql.catalog.* "
                "config, or use the parquet TieredStore (default)")
        self.spark = spark
        self.table = table
        self.lineage_table = lineage_table or f"{table}_lineage"
        spark.sql(_ROLLUP_DDL.format(table=self.table))
        spark.sql(_LINEAGE_DDL.format(table=self.lineage_table))

    # -- data ----------------------------------------------------------------

    def write_partition(self, df: DataFrame, tier: str,
                        partition_id: int) -> None:
        out = (
            df.withColumn("tier", F.lit(tier))
            .withColumn("p", F.lit(partition_id))
            .withColumn("bucket_date", F.to_date("bucket_ts"))
        )
        # whole-shard replace in one snapshot (the directory-rename
        # analogue): the condition also clears bucket_date partitions
        # absent from this write, matching the parquet backend
        out.writeTo(self.table).overwrite(
            (F.col("tier") == tier) & (F.col("p") == int(partition_id)))

    def read_tier(self, spark: SparkSession, tier: str) -> DataFrame:
        return spark.table(self.table).filter(F.col("tier") == tier)

    def expire(self, tier: str, cutoff_date: str) -> list[str]:
        """Retention: Iceberg metadata delete — the predicate aligns
        with partition boundaries, so no data files are rewritten."""
        self.spark.sql(
            f"DELETE FROM {self.table} "
            f"WHERE tier = '{tier}' AND bucket_date < DATE '{cutoff_date}'")
        return [f"{self.table}/tier={tier}/bucket_date<{cutoff_date}"]

    def compact_tier(self, spark: SparkSession, from_tier: str,
                     to_tier: str, max_points: int | None = None,
                     since: str | None = None) -> int:
        from ..rollup import cascade

        fine = self.read_tier(spark, from_tier)
        if since is not None:
            # incremental maintenance: buckets nest within a date, so
            # recomputing only dates >= since is exact; bucket_date is
            # an Iceberg partition column, so this prunes at planning
            fine = fine.filter(F.col("bucket_date") >= F.lit(since))
        out = cascade(fine, to_tier, max_points=max_points) \
            .withColumn("bucket_date", F.to_date("bucket_ts"))
        # leaf-scoped conditional overwrite: replace ONLY the
        # (p, bucket_date) combinations the cascade produced — a
        # whole-tier (or whole-shard) overwrite would wipe coarse
        # history absent from the source, e.g. dates the fine tier
        # already expired; that history must survive, matching the
        # parquet backend's leaf-granular promote. The predicate is a
        # bounded per-shard disjunction (P x dates driver-side rows).
        leaves = out.groupBy("p").agg(
            F.collect_set(F.col("bucket_date").cast("string"))
            .alias("dates")).collect()
        if not leaves:
            return 0
        pred = None
        for r in leaves:
            clause = (F.col("p") == int(r["p"])) & \
                F.col("bucket_date").cast("string").isin(list(r["dates"]))
            pred = clause if pred is None else (pred | clause)
        out.writeTo(self.table).overwrite(
            (F.col("tier") == to_tier) & pred)
        # bin-pack small files produced by the overwrite
        self.spark.sql(
            f"CALL {self._catalog()}.system.rewrite_data_files"
            f"(table => '{self.table}', where => 'tier = ''{to_tier}''')")
        return len(leaves)

    def _catalog(self) -> str:
        """Catalog component for system-procedure CALLs: a 3-part
        identifier names it explicitly; 2-part identifiers resolve in
        the session's current catalog."""
        parts = self.table.split(".")
        if len(parts) >= 3:
            return parts[0]
        return self.spark.catalog.currentCatalog()

    def upgrade_tier(self, spark: SparkSession, tier: str,
                     max_points: int | None = None) -> int:
        from .. import codec as _codec

        @F.pandas_udf("binary")
        def _up(chunks: pd.Series) -> pd.Series:
            return chunks.map(
                lambda b: _codec.upgrade_chunk(bytes(b), max_points))

        df = self.read_tier(spark, tier).withColumn("chunk", _up("chunk"))
        df.writeTo(self.table).overwrite(F.col("tier") == tier)
        return df.select("p").distinct().count()

    # -- lineage ---------------------------------------------------------

    def committed_partitions(self, spark: SparkSession,
                             job_id: str) -> set[int]:
        rows = (spark.table(self.lineage_table)
                .filter(F.col("job_id") == job_id)
                .select("partition_id").collect())
        return {r["partition_id"] for r in rows}

    def commit_lineage(self, row: dict) -> None:
        src = self.spark.createDataFrame(
            pd.DataFrame([row]),
            schema=("job_id string, partition_id int, rows_in long, "
                    "points_out long, bytes_compressed long, "
                    "committed_at timestamp"))
        src.createOrReplaceTempView("_lineage_src")
        # MERGE = idempotent re-commit of the same (job, shard)
        self.spark.sql(f"""
            MERGE INTO {self.lineage_table} t
            USING _lineage_src s
            ON t.job_id = s.job_id AND t.partition_id = s.partition_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)

    def read_lineage(self, spark: SparkSession, job_id: str) -> DataFrame:
        return (spark.table(self.lineage_table)
                .filter(F.col("job_id") == job_id))

    # -- job-output commit -------------------------------------------------

    def commit_job_output(self, spark: SparkSession, out: DataFrame,
                          pending: list[int], tiers: tuple[str, ...],
                          job_id: str, finest: str) -> list[dict]:
        """One conditional-overwrite snapshot replaces every pending
        SHARD wholesale — ``overwrite(p IN pending)`` deletes the
        shards' previous rows (crashed-attempt or earlier-job data —
        the job re-derives from the source, so a pending shard's
        content is exactly this run's output, even when that output is
        empty; the parquet backend clears the same directories) and
        inserts the new output in the same commit. Per-shard stats
        then aggregate from the freshly committed rows
        (partition-pruned on p), and lineage rows are MERGEd — data
        first, lineage second."""
        shard_ids = [int(p) for p in pending]
        out.writeTo(self.table).overwrite(F.col("p").isin(shard_ids))
        is_turnrate = ((F.col("tier") == finest) & (F.col("kind") == "conv")
                       & (F.col("metric") == "turn_rate"))
        stats = (
            spark.table(self.table)
            .filter(F.col("p").isin(shard_ids))
            .groupBy("p")
            .agg(
                F.count("*").alias("points_out"),
                F.coalesce(F.sum(F.length("chunk")), F.lit(0)).alias("bytes"),
                F.coalesce(F.sum(F.when(is_turnrate, F.col("cnt"))),
                           F.lit(0)).alias("rows_in"),
            )
            .collect()
        )
        from ..lineage import lineage_rows_from_stats

        by_p = {r["p"]: r for r in stats}
        results = []
        for row in lineage_rows_from_stats(pending, by_p, job_id):
            self.commit_lineage(row)
            results.append(row)
        return results

    # -- job staging -------------------------------------------------------

    def turns_staging_dir(self, job_id: str) -> str:
        """Staging location for run_rollup_job's narrow deduped turns
        (the single-source-scan protocol): a plain-parquet scratch area
        next to the warehouse, reachable by every executor. Override
        with ``staging_root`` if the warehouse scheme is not writable
        for scratch data."""
        root = getattr(self, "staging_root", None) or \
            self.spark.conf.get("spark.sql.warehouse.dir")
        return f"{root.rstrip('/')}/_mimir_staging/job={job_id}-turns"

    def cleanup_staging(self, path: str) -> None:
        """Recursive delete through the Hadoop FileSystem API — works
        for any scheme the cluster can read (s3a, hdfs, gs, file)."""
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        fs.delete(hpath, True)

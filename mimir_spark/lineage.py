"""Resumable rollup job with per-partition lineage + metrics.

Reference parity:
- per-batch stats written at flush (AtomicIndex.java:1035-1057) ->
  lineage row (rows_in, points_out, bytes_compressed) per partition;
- crash repair to a batch boundary (util/TruncateIndex.java:86-99) ->
  resume skips partitions whose lineage commit exists; an interrupted
  partition is simply recomputed (writes are idempotent overwrites of
  that partition's directory);
- deleted-docs overlay / retention (MimirIndex.java:944-998) ->
  date-partitioned tier layout where expiry = dropping partition dirs.

On a real cluster this layout is an Iceberg table (MERGE INTO +
snapshot per partition commit + rewrite_data_files); the plain-parquet
implementation here preserves the same commit protocol: data first,
then the lineage marker — a partition is "done" iff its lineage row is
readable, and every write replaces a directory through swap_dir.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import date
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .rollup import SERIES_COLS, TIER_US, cascade_groups

LINEAGE_SCHEMA = (
    "job_id string, partition_id int, rows_in long, points_out long, "
    "bytes_compressed long, committed_at timestamp"
)

#: Row ordering inside every store file: series columns first so
#: parquet row-group min/max stats actually prune a series_key/metric
#: equality filter on the read path, bucket_ts last so each series'
#: buckets are contiguous (best Gorilla-adjacent layout for range
#: scans).
_STORE_SORT = [*SERIES_COLS, "bucket_ts"]

#: spark.sql.parquet.compression.codec -> pyarrow codec name; pyarrow
#: writes neither lzo nor lz4_raw
_ARROW_CODECS = {"none": "none", "uncompressed": "none",
                 "snappy": "snappy", "gzip": "gzip", "brotli": "brotli",
                 "lz4": "lz4", "zstd": "zstd"}


def _arrow_parquet_codec(spark: SparkSession) -> dict:
    """pq.write_table compression arguments for the session's parquet
    codec. zstd gets parquet-mr's default level 3 (pyarrow's default,
    1, writes larger files than Spark); other codecs take no level."""
    name = spark.conf.get("spark.sql.parquet.compression.codec",
                          "snappy").lower()
    if name not in _ARROW_CODECS:
        raise ValueError(
            f"the store's pyarrow writer cannot write parquet codec "
            f"{name!r}; set spark.sql.parquet.compression.codec to one "
            f"of {sorted(_ARROW_CODECS)}")
    if name == "zstd":
        return {"compression": "zstd", "compression_level": 3}
    return {"compression": _ARROW_CODECS[name]}


def _spark_sorted(table: pa.Table, keys) -> pa.Table:
    """``table`` sorted by ``keys`` the way Spark sorts: strings and
    binaries by their bytes, nulls first."""
    return table.take(pc.sort_indices(
        table, sort_keys=[(c, "ascending") for c in keys],
        null_placement="at_start"))


def store_file_writer(spark: SparkSession):
    """The store's file format for the writers that skip Spark's (the
    chunk sink, compaction): returns ``write(table, path)``, which
    lands ``table`` as one parquet file shaped like the Spark
    writer's — rows in ``_STORE_SORT`` order, INT96 ``bucket_ts``,
    every column optional, the session's parquet codec, no Arrow
    schema in the footer. The codec is checked here, before the
    caller computes any row."""
    codec = _arrow_parquet_codec(spark)

    def write(table: pa.Table, path) -> None:
        schema = pa.schema([f.with_nullable(True) for f in table.schema])
        pq.write_table(_spark_sorted(table, _STORE_SORT).cast(schema), path,
                       use_deprecated_int96_timestamps=True,
                       store_schema=False, **codec)

    return write


#: what compaction reads of a fine leaf, and the file it writes
_LEAF_SCHEMA = pa.schema([*((c, pa.string()) for c in SERIES_COLS),
                          ("bucket_ts", pa.timestamp("us")),
                          ("chunk", pa.binary())])
_STORE_FILE_SCHEMA = pa.schema([
    *((c, pa.string()) for c in SERIES_COLS),
    ("bucket_ts", pa.timestamp("us")), ("cnt", pa.int64()),
    *((c, pa.float64()) for c in ("sum_v", "min_v", "max_v", "last_v")),
    ("chunk", pa.binary())])


def _read_leaf(leaf: Path) -> dict:
    """A leaf's series columns and chunks as arrays, sorted by series,
    bucket_ts and chunk: the input ``rollup.cascade_groups`` takes.
    Files whose names start with ``.`` or ``_`` (Hadoop checksums,
    ``_SUCCESS``, a writer's temp files) are skipped, as Spark's
    reader skips them; files may differ in extra columns
    (``write_partition`` files carry ``tier``) and in timestamp
    type."""
    parts = [pq.read_table(f, columns=_LEAF_SCHEMA.names,
                           coerce_int96_timestamp_unit="us")
             .select(_LEAF_SCHEMA.names).cast(_LEAF_SCHEMA)
             for f in sorted(leaf.iterdir())
             if f.is_file() and not f.name.startswith((".", "_"))]
    rows = _spark_sorted(pa.concat_tables(parts) if parts
                         else _LEAF_SCHEMA.empty_table(),
                         [*_STORE_SORT, "chunk"])
    return {c: rows[c].to_numpy(zero_copy_only=False)
            for c in (*SERIES_COLS, "chunk")}


def _stage_write(df: DataFrame, staging: Path, by: list[str]) -> None:
    """Write ``df`` as parquet partitioned by ``by`` into ``staging``,
    replacing what an earlier attempt left there: the one Spark write
    of every store directory. The caller swap_dirs the staged dir, or
    its leaves, into place.

    File layout: AQE's rebalance shuffle on ``by`` writes a leaf (the
    whole ``staging`` dir when ``by`` is empty) with one task, so one
    file, while the leaf is small, and splits it into files of about
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` once it grows
    past that (at 100x scale a day of 1m histogram bins is multi-GB,
    too big for one reducer). Each task sorts its rows by ``by`` and
    the ``_STORE_SORT`` columns the frame has, so parquet row-group
    stats cluster by series."""
    if staging.exists():
        shutil.rmtree(staging)
    cols = [c for c in _STORE_SORT if c in df.columns]
    df.hint("rebalance", *by).sortWithinPartitions(*by, *cols) \
        .write.partitionBy(*by).parquet(str(staging))


def _failpoint(name: str) -> None:
    """Named crash point of a durable write; does nothing. A test
    replaces this module attribute to stop a writer at the step the
    way a hard kill would, so other modules call it as
    ``lineage._failpoint``."""


def _old_of(dst: Path) -> Path:
    return dst.with_name(f".old-{dst.name}")


def heal_swap(dst: Path) -> None:
    """Finish a swap_dir of ``dst`` that a crash interrupted: an
    ``.old`` sibling with no live ``dst`` is rolled back, one beside a
    live ``dst`` is deleted. swap_dir heals first; a writer that reads
    ``dst`` before swapping it calls this before the read."""
    old = _old_of(dst)
    if not old.exists():
        return
    if dst.exists():
        shutil.rmtree(old)
    else:
        old.rename(dst)


def swap_dir(staged: Path, dst: Path) -> None:
    """Replace directory ``dst`` with ``staged`` — the one commit step
    of every directory the store's writers replace.

    Protocol: rename the live ``dst`` to its sibling ``.old-<name>``,
    rename ``staged`` to ``dst``, remove the old dir. Readers and the
    ``p=*`` / ``bucket_date=*`` / ``rule=*`` globs skip dot-prefixed
    names, so a reader sees the old ``dst``, the new one, or (between
    the renames) none. A crash leaves the staged dir, which the
    writer's retry rebuilds, and at most one ``.old``, which
    heal_swap settles before the next swap of the same ``dst``: with
    no live ``dst`` it is rolled back, beside the new one it is
    deleted. Rolling back is always correct, because the retry redoes
    a rolled-back write: a writer's marker (lineage row, ledger, meta)
    lands after the swap or travels inside ``dst``, and the writers
    with no marker (compaction, upgrade) redo every swap. A missing
    ``staged`` removes ``dst`` through the same steps.

    Repair runs only in writers, never in readers: a reader could
    race a live swap."""
    heal_swap(dst)
    _failpoint("swap_dir.staged")
    old = _old_of(dst)
    if dst.exists():
        dst.rename(old)
    _failpoint("swap_dir.moved_aside")
    if staged.exists():
        dst.parent.mkdir(parents=True, exist_ok=True)
        staged.rename(dst)
    _failpoint("swap_dir.moved_in")
    if old.exists():
        shutil.rmtree(old)


def drop_staging(path: str | Path) -> None:
    """Remove a staging dir, then its ``_staging`` parent unless another
    job is mid-flight there."""
    p = Path(path)
    shutil.rmtree(p, ignore_errors=True)
    try:
        p.parent.rmdir()
    except OSError:
        pass


def write_json_atomic(path: Path, obj) -> None:
    """Replace the JSON sidecar ``path`` in one step: a kill mid-write
    leaves the previous file whole, where a truncated one would fail
    every later ``json.loads``. The temp file is dot-prefixed, so the
    sidecar globs skip it."""
    tmp = path.with_name(f".tmp-{path.name}")
    tmp.write_text(json.dumps(obj, sort_keys=True))
    os.replace(tmp, path)


class TieredStore:
    """Date-partitioned parquet layout per tier with O(metadata) expiry."""

    def __init__(self, root: str | Path):
        self.root = Path(root)

    def tier_dir(self, tier: str) -> Path:
        return self.root / f"tier={tier}"

    def write_partition(self, df: DataFrame, tier: str, partition_id: int) -> None:
        self._write_dir(df, self.tier_dir(tier) / f"p={partition_id}")

    def sketch_dir(self, tier: str) -> Path:
        return self.root / f"sketch={tier}"

    def hist_dir(self, tier: str) -> Path:
        return self.root / f"hist={tier}"

    @staticmethod
    def _write_dir(df: DataFrame, out: Path) -> None:
        """Replace directory ``out`` with ``df`` in bucket_date leaves:
        a tier shard, or a whole sketch or histogram tier (the same
        date layout, so the same O(metadata) expiry)."""
        tmp = out.with_name(f".tmp-{out.name}")
        _stage_write(df.withColumn("bucket_date", F.to_date("bucket_ts")),
                     tmp, ["bucket_date"])
        swap_dir(tmp, out)

    def write_sketch_tier(self, sketch_df: DataFrame, tier: str) -> None:
        """Persist a distinct-count sketch tier (rollup_distinct_sketch
        output) next to the aggregate tiers."""
        self._write_dir(sketch_df, self.sketch_dir(tier))

    def write_hist_tier(self, hist_df: DataFrame, tier: str) -> None:
        """Persist a quantile-histogram tier (histogram.rollup_histogram
        output) next to the aggregate tiers — same layout, swap, and
        expiry discipline as the distinct-sketch tier."""
        self._write_dir(hist_df, self.hist_dir(tier))

    def read_sketch_tier(self, spark: SparkSession, tier: str) -> DataFrame:
        return (
            spark.read.option("basePath", str(self.sketch_dir(tier)))
            .parquet(str(self.sketch_dir(tier)))
        )

    def read_hist_tier(self, spark: SparkSession, tier: str) -> DataFrame:
        return (
            spark.read.option("basePath", str(self.hist_dir(tier)))
            .parquet(str(self.hist_dir(tier)))
        )

    def compact_sketch_tier(self, spark: SparkSession, from_tier: str,
                            to_tier: str, since: str | None = None) -> int:
        """Derive a coarser DISTINCT-sketch tier from a finer one by
        HLL union (rollup.cascade_distinct_sketch) — the sketch-tier
        counterpart of compact_tier: sketch union is exact over the
        sketch state, so the derived tier's estimates are identical to
        sketching the raw points at the coarser bucket directly.
        ``since`` (inclusive YYYY-MM-DD) restricts the recompute to
        recent dates — the nightly-maintenance shape: O(new dates)
        read and written, older coarse dates untouched.

        The write replaces ONLY the bucket_date dirs the cascade
        produced: coarse dates whose fine inputs already expired (the
        whole point of keeping a coarser retention tier) survive a
        re-compaction instead of being destroyed by a whole-tier swap.
        A replaced date keeps its streaming applied-batch ledger — its
        contents were derived from the fine tier, which the streaming
        path feeds first, so previously-applied batches stay applied
        (a wiped ledger would double-merge them on a sink retry).
        Returns the row count written across replaced dates."""
        from .rollup import cascade_distinct_sketch

        return self._compact_aux_tier(
            spark, self.sketch_dir, self.read_sketch_tier,
            cascade_distinct_sketch, "sketch", from_tier, to_tier, since)

    def compact_hist_tier(self, spark: SparkSession, from_tier: str,
                          to_tier: str, since: str | None = None) -> int:
        """Derive a coarser quantile-histogram tier from a finer one by
        bin addition (histogram.cascade_histogram) — exact over the
        sketch state, same incremental-``since`` and crash-swap
        semantics as compact_sketch_tier."""
        from .histogram import cascade_histogram

        return self._compact_aux_tier(
            spark, self.hist_dir, self.read_hist_tier,
            cascade_histogram, "hist", from_tier, to_tier, since)

    def _compact_aux_tier(self, spark: SparkSession, dir_of, read_of,
                          cascade_fn, label: str, from_tier: str,
                          to_tier: str, since: str | None) -> int:
        if not any(dir_of(from_tier).glob("bucket_date=*")):
            return 0
        fine = read_of(spark, from_tier)
        if since is not None:
            # incremental maintenance: every tier bucket nests within
            # one date, so recomputing only dates >= since is exact —
            # and bucket_date is the partition column, so the filter
            # prunes the scan to the affected date dirs (O(recent),
            # not O(tier))
            fine = fine.filter(F.col("bucket_date") >= F.lit(since))
        fine = fine.drop("bucket_date")
        coarse = cascade_fn(fine, to_tier) \
            .withColumn("bucket_date", F.to_date("bucket_ts"))
        staging = self.root / "_staging" / \
            f"{label}-compact-{from_tier}-{to_tier}"
        _stage_write(coarse, staging, ["bucket_date"])
        out_root = dir_of(to_tier)
        rows = 0
        for src in sorted(staging.glob("bucket_date=*")):
            rows += sum(pq.read_metadata(f).num_rows
                        for f in src.glob("*.parquet"))
            dst = out_root / src.name
            heal_swap(dst)  # the ledger below may sit in its .old
            old_ledger = dst / "_applied_batches.json"
            if old_ledger.exists():
                shutil.copy2(old_ledger, src / old_ledger.name)
            swap_dir(src, dst)
        self.cleanup_staging(str(staging))
        return rows

    def read_tier(self, spark: SparkSession, tier: str) -> DataFrame:
        """The tier as one frame with ``p``, ``bucket_date`` and
        ``tier`` columns. The ``p=`` dirs are listed here, not globbed
        by Spark: given one glob path, Spark looks for a streaming-sink
        metadata dir under it and logs a stack trace at WARN when the
        glob is no real path. An empty tier still passes the glob, so
        it fails as before (path does not exist)."""
        root = self.tier_dir(tier)
        shards = sorted(str(d) for d in root.glob("p=*")) \
            or [str(root / "p=*")]
        # the one-pass writer stores tier as a partition directory, not a
        # file column — restore it (withColumn also normalizes stores
        # written by write_partition, whose files carry tier inline)
        return (
            spark.read.option("basePath", str(root)).parquet(*shards)
            .withColumn("tier", F.lit(tier))
        )

    def expire(self, tier: str, cutoff_date: str) -> list[str]:
        """Retention: drop whole date partitions older than cutoff.

        Pure metadata operation — no data rewrite (Iceberg
        drop-partition analogue of the deleted-docs overlay)."""
        dropped = []
        for pdir in sorted(self.tier_dir(tier).glob("p=*/bucket_date=*")):
            date = pdir.name.split("=", 1)[1]
            if date < cutoff_date:
                shutil.rmtree(pdir)
                dropped.append(str(pdir))
        # sketch and histogram tiers of the same granularity age with
        # their aggregate tier: same policy, same O(metadata) drop
        # (aux tiers are unsharded — date dirs sit directly under the
        # root)
        for aux in (self.sketch_dir(tier), self.hist_dir(tier)):
            for ddir in sorted(aux.glob("bucket_date=*")):
                date = ddir.name.split("=", 1)[1]
                if date < cutoff_date:
                    shutil.rmtree(ddir)
                    dropped.append(str(ddir))
        # streaming applied-batch ledgers age with their dates too —
        # at years x dates x tiers they are unbounded sidecar growth,
        # and a ledger for an expired date guards nothing (replay of
        # that old a batch only happens from a checkpoint that has
        # already consumed it). metrics.jsonl stays: it is the
        # append-only ingest history, retention-independent.
        led_dir = self.root / "_streaming" / f"tier={tier}"
        for led in sorted(led_dir.glob("bucket_date=*.json")):
            if led.name.split("=", 1)[1].removesuffix(".json") \
                    < cutoff_date:
                led.unlink()
                dropped.append(str(led))
        return dropped

    def _stage_promote(self, df: DataFrame, tier: str, name: str,
                       whole_tier: bool = False) -> int:
        """Write ``df`` (must carry int column ``p`` and date column
        ``bucket_date``) as ONE staged Spark job partitioned by
        (p, bucket_date), then swap_dir each staged
        ``p=*/bucket_date=*`` LEAF into the tier — the Spark-side
        promote of a codec upgrade and a recording refresh. Leaf
        granularity matters under tiered retention: an output that
        covers only some dates must not destroy the tier's other
        leaves, so whole ``p=`` dirs are never swapped. ``whole_tier``
        swaps the staged tree in for the whole tier instead (a
        rebuild: leaves the output lacks are dropped). Idempotent:
        re-running after a crash converges. Returns the number of
        ``p=`` partitions touched."""
        staging = self.root / "_staging" / f"maint-{name}"
        _stage_write(df, staging, ["p", "bucket_date"])
        leaves = sorted(staging.glob("p=*/bucket_date=*"))
        if whole_tier:
            swap_dir(staging, self.tier_dir(tier))
        else:
            for src in leaves:
                swap_dir(src, self.tier_dir(tier) / src.parent.name
                         / src.name)
        self.cleanup_staging(str(staging))
        return len({src.parent.name for src in leaves})

    def compact_tier(self, spark: SparkSession, from_tier: str,
                     to_tier: str, max_points: int | None = None,
                     since: str | None = None) -> int:
        """Derive a coarser tier from a finer one — the periodic
        compaction job (MimirIndex.requestCompactIndex /
        AtomicIndex.compactIndex analogue, AtomicIndex.java:1280-1366).
        Chunks merge in bucket order, so the derived tier is
        byte-identical to one computed directly from raw (the cascade
        invariant).

        No Spark job: every tier bucket nests within one date, so each
        fine ``p=N/bucket_date=D`` leaf rolls up alone into the coarse
        leaf of the same name. The driver takes the leaves one at a
        time, so it holds one fine leaf: it reads the leaf with pyarrow
        (``_read_leaf``), re-rolls it with ``rollup.cascade_groups``
        (the step the Spark ``cascade`` runs), writes one file with
        ``store_file_writer`` into
        ``_staging/maint-compact-<from>-<to>/p=N/bucket_date=D`` and
        swap_dirs it over the coarse leaf. A leaf with no point writes
        nothing, and coarse leaves with no fine leaf stay: the fine
        tier expires first, and its coarse history must survive.

        ``since`` (inclusive YYYY-MM-DD) makes the run incremental:
        only leaves of dates >= since are read and rewritten, so
        nightly maintenance is O(new dates), not O(tier). It is
        checked before anything is touched. Idempotent: re-running
        after a crash converges. Returns partitions written."""
        if since is not None:
            # leaves are picked by comparing date strings, which holds
            # only for the canonical YYYY-MM-DD form
            since = date.fromisoformat(since).isoformat()
        write = store_file_writer(spark)
        staging = self.root / "_staging" / \
            f"maint-compact-{from_tier}-{to_tier}"
        if staging.exists():
            shutil.rmtree(staging)
        shards = set()
        for leaf in sorted(self.tier_dir(from_tier).glob("p=*/bucket_date=*")):
            if since is not None and leaf.name.split("=", 1)[1] < since:
                continue
            coarse = cascade_groups(_read_leaf(leaf), to_tier, SERIES_COLS,
                                    max_points)
            if coarse is None:
                continue
            coarse["bucket_ts"] = coarse["bucket_ts"].astype("datetime64[us]")
            staged = staging / leaf.parent.name / leaf.name
            staged.mkdir(parents=True)
            write(pa.Table.from_pandas(coarse, schema=_STORE_FILE_SCHEMA,
                                       preserve_index=False),
                  staged / f"compact-{from_tier}-{to_tier}.parquet")
            swap_dir(staged, self.tier_dir(to_tier) / leaf.parent.name
                     / leaf.name)
            shards.add(leaf.parent.name)
        self.cleanup_staging(str(staging))
        return len(shards)

    def upgrade_tier(self, spark: SparkSession, tier: str,
                     max_points: int | None = None) -> int:
        """Rewrite every chunk in a tier to the current codec version —
        the format-upgrade path (util/IndexUpgrader.java analogue:
        old-format index rewritten in place). ONE Spark job per tier
        (read ``p=*`` with the partition column, rewrite chunks,
        promote with per-leaf swap_dir) and idempotent: already-current
        chunks pass through byte-stable, and re-running after a crash
        converges. Returns the partition count."""
        from . import codec as _codec

        @F.pandas_udf("binary")
        def _up(chunks: pd.Series) -> pd.Series:
            return chunks.map(
                lambda b: _codec.upgrade_chunk(bytes(b), max_points))

        src_dir = self.tier_dir(tier)
        # the tier is its own source: a shard a crashed rollup job left
        # in its .old, then a leaf a crashed upgrade left in its .old,
        # must be back before the read, or this upgrade drops it
        for pattern in (".old-p=*", "p=*/.old-*"):
            for old in list(src_dir.glob(pattern)):
                heal_swap(old.with_name(old.name.removeprefix(".old-")))
        if not any(src_dir.glob("p=*")):
            return 0
        df = (
            self.read_tier(spark, tier)
            .withColumn("chunk", _up("chunk"))
        )
        return self._stage_promote(df, tier, f"upgrade-{tier}")

    # -- job staging -------------------------------------------------------

    def turns_staging_dir(self, job_id: str) -> str:
        """Where run_rollup_job stages the narrow deduped turns (the
        single-source-scan protocol). Backend-specific: here a path
        under the store root; the Iceberg backend supplies a
        warehouse-adjacent location."""
        return str(self.root / "_staging" / f"job={job_id}-turns")

    def cleanup_staging(self, path: str) -> None:
        drop_staging(path)

    # -- lineage -----------------------------------------------------------

    def lineage_dir(self, job_id: str) -> Path:
        return self.root / "_lineage" / f"job={job_id}"

    def committed_partitions(self, spark: SparkSession, job_id: str) -> set[int]:
        d = self.lineage_dir(job_id)
        if not d.exists():
            return set()
        done = set()
        for p in d.glob("p=*"):
            if (p / "_COMMITTED").exists():
                done.add(int(p.name.split("=", 1)[1]))
        return done

    def commit_lineage(self, row: dict) -> None:
        d = self.lineage_dir(row["job_id"]) / f"p={row['partition_id']}"
        d.mkdir(parents=True, exist_ok=True)
        pdf = pd.DataFrame([row])
        pdf["committed_at"] = pdf["committed_at"].astype("datetime64[us]")
        pdf.to_parquet(d / "lineage.parquet", index=False,
                       coerce_timestamps="us", allow_truncated_timestamps=True)
        _failpoint("lineage.marker")
        (d / "_COMMITTED").touch()

    def read_lineage(self, spark: SparkSession, job_id: str) -> DataFrame:
        return spark.read.parquet(str(self.lineage_dir(job_id) / "p=*" / "lineage.parquet"))

    # -- job-output commit ---------------------------------------------------

    def commit_job_output(self, spark: SparkSession, out: DataFrame,
                          pending: list[int], tiers: tuple[str, ...],
                          job_id: str, finest: str) -> list[dict]:
        """Stage the rolled-up job output (columns incl. tier, p,
        bucket_date), aggregate per-shard stats from the staged files
        (output is ~100x smaller than input), then atomically promote
        each shard's directories and write its lineage marker — data
        first, lineage second, a shard is done iff its lineage row is
        readable. This is the backend-specific half of run_rollup_job;
        the Iceberg backend replaces it with one conditional-overwrite
        snapshot (p IN pending — whole-shard replace) + a lineage-table
        MERGE (sources/iceberg_store.py)."""
        staging = self.root / "_staging" / f"job={job_id}"
        _stage_write(out, staging, ["tier", "p", "bucket_date"])
        # per-shard lineage metrics from the staged output: rows_in =
        # the deduped turn count (every turn emits exactly one
        # conv/turn_rate point, so the finest tier's cnt sums recover
        # it without a second pass over the source)
        #
        # an all-empty source (or a resume where only empty shards
        # remain) stages a directory with no data files, which
        # parquet-read cannot infer a schema from — short-circuit to
        # zero-count lineage rows so the job converges instead of
        # re-failing on every retry
        if any(staging.rglob("*.parquet")):
            staged = spark.read.option("basePath", str(staging)).parquet(str(staging))
            is_turnrate = ((F.col("tier") == finest) & (F.col("kind") == "conv")
                           & (F.col("metric") == "turn_rate"))
            stats = (
                staged.groupBy("p")
                .agg(
                    F.count("*").alias("points_out"),
                    F.coalesce(F.sum(F.length("chunk")), F.lit(0)).alias("bytes"),
                    F.coalesce(F.sum(F.when(is_turnrate, F.col("cnt"))),
                               F.lit(0)).alias("rows_in"),
                )
                .collect()
            )
        else:
            stats = []
        by_p = {r["p"]: r for r in stats}
        results = []
        for row in lineage_rows_from_stats(pending, by_p, job_id):
            p = row["partition_id"]
            for tier in tiers:
                # a pending shard is EXACTLY this job's output — the
                # job re-derives from the source, so data from a
                # crashed attempt or an earlier job must not outlive
                # the commit even when this run produced no rows for
                # the shard (swap_dir of a missing staged dir removes
                # dst; the Iceberg backend's conditional overwrite
                # has the same semantics)
                swap_dir(staging / f"tier={tier}" / f"p={p}",
                         self.tier_dir(tier) / f"p={p}")
            self.commit_lineage(row)
            results.append(row)
        self.cleanup_staging(str(staging))
        return results


def lineage_rows_from_stats(pending: list[int], by_p: dict,
                            job_id: str) -> list[dict]:
    """Per-shard lineage rows from aggregated stats — the ONE place
    the lineage record shape lives, shared by both store backends so
    their schemas cannot drift (a shard with no staged output gets an
    explicit zero-count row, which is what marks it done)."""
    rows = []
    for p in pending:
        r = by_p.get(p)
        rows.append({
            "job_id": job_id,
            "partition_id": p,
            "rows_in": int(r["rows_in"]) if r else 0,
            "points_out": int(r["points_out"]) if r else 0,
            "bytes_compressed": int(r["bytes"]) if r else 0,
            "committed_at": pd.Timestamp(int(time.time() * 1_000_000),
                                         unit="us"),
        })
    return rows


def tiered_store(spec, spark: SparkSession | None = None):
    """Backend factory: ``'iceberg:<catalog.db.table>'`` returns an
    IcebergTieredStore (requires the Iceberg runtime + the owning
    SparkSession); any path returns the plain-parquet TieredStore. A
    cluster deployment flips backends with this one string."""
    if isinstance(spec, str) and spec.startswith("iceberg:"):
        from .sources.iceberg_store import IcebergTieredStore

        return IcebergTieredStore(spark, spec[len("iceberg:"):])
    return TieredStore(spec)


def run_rollup_job(
    spark: SparkSession,
    source,  # callable () -> DataFrame of transcripts
    store: TieredStore,
    job_id: str,
    num_partitions: int = 8,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
    max_partitions: int | None = None,
    keep_staging: bool = False,
) -> list[dict]:
    """Roll up all pending shards (pmod(xxhash64(conv_id), P)) in ONE
    source scan, then commit tier output + a lineage row per shard.

    Scale note: the previous designs either looped shards (P full
    input scans) or built one logical plan whose conv/tool union made
    AQE scan the source twice. Here the narrow deduped turns are
    staged ONCE (the only source scan), both union branches read the
    staged table, the shard id rides along as a prefix of the series
    ``kind`` through one rollup_turns pass, the staged output is
    written once partitioned by
    (tier, p, bucket_date), per-shard stats are aggregated from the
    staged files (output is ~100x smaller than input), and each shard's
    directories are atomically moved into place before its lineage
    marker is written. The commit protocol is unchanged: a shard is
    done iff its lineage row is readable; a crash anywhere re-runs only
    uncommitted shards, and every write is an idempotent replace.

    ``max_partitions`` bounds shards per invocation (used by tests to
    simulate a crash mid-job); re-invoking resumes from lineage.

    ``keep_staging`` leaves the staged narrow turns in place after the
    commit so a caller can derive auxiliary tiers (distinct sketches,
    quantile histograms) from them WITHOUT re-scanning the source —
    valid only when this invocation staged every shard (a resumed run
    stages only the pending subset); the caller owns the eventual
    cleanup_staging call.
    """
    done = store.committed_partitions(spark, job_id)
    pending = [p for p in range(num_partitions) if p not in done]
    if max_partitions is not None:
        pending = pending[:max_partitions]
    if not pending:
        return []
    tiers = tuple(tiers)
    shard = F.pmod(F.xxhash64("conv_id"), F.lit(num_partitions))
    src = source().filter(shard.isin([int(p) for p in pending]))
    # ONE source scan per invocation, including the conv/tool union:
    # the narrow deduped turns (text already reduced to n_tok at the
    # scan — ~100x smaller) are staged to the job's staging area once,
    # and BOTH rollup branches read the staged table back. Without
    # staging, AQE declines to reuse the union's shared Exchange and
    # the (100 TB) source is scanned twice (PLANS.md audit). Restart
    # safety: mode("overwrite") makes a crash mid-stage idempotent,
    # and the stage dir is removed after the shard commits.
    from .ingest import dedup_turns, narrow_turns
    from .rollup import rollup_turns

    stage_dir = store.turns_staging_dir(job_id)
    turns = dedup_turns(narrow_turns(src).repartition(F.col("conv_id")))
    turns.write.mode("overwrite").parquet(stage_dir)
    staged = spark.read.parquet(stage_dir)
    # shard tag folded into the series kind ("<p>|conv" / "<p>|tool"):
    # one rollup pass produces per-(shard, series, bucket) groups
    try:
        rolled = rollup_turns(staged, tiers=tiers,
                              shard_partitions=num_partitions)
        parts = F.split(F.col("kind"), "\\|", 2)
        out = (
            rolled.withColumn("p", parts.getItem(0).cast("int"))
            .withColumn("kind", parts.getItem(1))
            .withColumn("bucket_date", F.to_date("bucket_ts"))
        )
        finest = min(tiers, key=lambda t: TIER_US[t])
        rows = store.commit_job_output(spark, out, pending, tiers, job_id,
                                       finest)
    finally:
        # clean on success AND soft failure: a resume re-stages its own
        # (shrunken) pending set anyway, so the staged turns are never
        # reusable state — only a hard kill can leak them, and the next
        # run's overwrite reclaims that
        if not keep_staging:
            store.cleanup_staging(stage_dir)
    return rows


_DUR_UNITS = {"d": 1, "w": 7}


def parse_retention(spec: str) -> int:
    """'30d' / '12w' -> days. Day granularity because expiry drops
    whole bucket_date partition directories (the O(metadata)
    guarantee); finer TTLs would force data rewrites."""
    import re

    m = re.fullmatch(r"(\d+)([dw])", spec.strip())
    if not m:
        raise ValueError(f"bad retention duration {spec!r} "
                         f"(expected <n>d or <n>w)")
    return int(m.group(1)) * _DUR_UNITS[m.group(2)]


def apply_retention(store, policy: dict[str, str],
                    as_of: str) -> dict[str, list[str]]:
    """Enforce per-tier TTLs. EXACT-N semantics: ``"30d"`` keeps the
    30 most recent calendar days of bucket_date partitions, ``as_of``
    inclusive (cutoff = as_of - (N-1); strictly older partitions
    drop). The standard tiered-retention shape — fine tiers keep days,
    coarse tiers keep years — as one config dict.

    ``as_of`` is an explicit date string (the job scheduler's logical
    date): retention is deterministic and replayable, never dependent
    on the machine clock. The WHOLE policy is validated before the
    first drop — a typo'd tier or duration raises without any
    destructive half-application. Returns {tier: dropped paths}.
    """
    import datetime as _dt

    base = _dt.date.fromisoformat(as_of)
    cutoffs = {}
    for tier, keep in policy.items():  # validate everything first
        if tier not in TIER_US:
            raise ValueError(f"unknown tier {tier!r} in retention policy")
        cutoffs[tier] = base - _dt.timedelta(days=parse_retention(keep) - 1)
    return {tier: store.expire(tier, cutoff.isoformat())
            for tier, cutoff in cutoffs.items()}

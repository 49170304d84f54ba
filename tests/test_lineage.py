"""Resume-from-checkpoint == single-shot run (FIXTURES.md invariant 4),
lineage metrics, and retention expiry."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mimir_spark.fixtures import TRANSCRIPT_SCHEMA
from mimir_spark.lineage import TieredStore, run_rollup_job

# p included: tier groups are per-shard, so (series, bucket) alone
# under-identifies rows and cross-shard ties would sort arbitrarily
KEY = ["kind", "series_key", "metric", "bucket_ts", "p"]


@pytest.fixture()
def source(spark, t_small):
    def make():
        return spark.createDataFrame(t_small, schema=TRANSCRIPT_SCHEMA)

    return make


def _read_all(spark, store, tier):
    pdf = store.read_tier(spark, tier).toPandas()
    return pdf.sort_values(KEY, kind="mergesort").reset_index(drop=True)


def test_resume_equals_single_shot(spark, source, tmp_path):
    s1 = TieredStore(tmp_path / "single")
    run_rollup_job(spark, source, s1, "job1", num_partitions=4)

    s2 = TieredStore(tmp_path / "resumed")
    partial = run_rollup_job(spark, source, s2, "job1", num_partitions=4,
                             max_partitions=2)  # simulated crash after 2
    assert len(partial) == 2
    resumed = run_rollup_job(spark, source, s2, "job1", num_partitions=4)
    assert len(resumed) == 2  # only the remaining partitions ran

    for tier in ("1m", "1h", "1d"):
        a = _read_all(spark, s1, tier)
        b = _read_all(spark, s2, tier)
        pd.testing.assert_frame_equal(
            a.drop(columns=["chunk"]), b.drop(columns=["chunk"]), check_dtype=False
        )
        assert all(bytes(x) == bytes(y) for x, y in zip(a["chunk"], b["chunk"]))


def test_lineage_metrics(spark, source, t_small, tmp_path):
    store = TieredStore(tmp_path / "store")
    rows = run_rollup_job(spark, source, store, "job2", num_partitions=4)
    lineage = store.read_lineage(spark, "job2").toPandas()
    assert len(lineage) == 4
    n_unique = len(t_small.drop_duplicates(["conv_id", "turn_idx"]))
    assert lineage["rows_in"].sum() == n_unique
    assert (lineage["bytes_compressed"] > 0).all()
    assert lineage["points_out"].sum() == sum(r["points_out"] for r in rows)


def test_rerun_is_noop(spark, source, tmp_path):
    store = TieredStore(tmp_path / "store")
    run_rollup_job(spark, source, store, "job3", num_partitions=3)
    again = run_rollup_job(spark, source, store, "job3", num_partitions=3)
    assert again == []


def test_retention_expiry(spark, source, tmp_path):
    store = TieredStore(tmp_path / "store")
    run_rollup_job(spark, source, store, "job4", num_partitions=2, tiers=("1d",))
    before = store.read_tier(spark, "1d").toPandas()
    dates = np.sort(before["bucket_date"].astype(str).unique())
    assert len(dates) > 1
    cutoff = str(dates[1])
    dropped = store.expire("1d", cutoff)
    assert dropped
    after = store.read_tier(spark, "1d").toPandas()
    assert set(after["bucket_date"].astype(str)) == set(dates[dates >= cutoff])
    assert len(after) == (before["bucket_date"].astype(str) >= cutoff).sum()


def test_single_source_scan_per_invocation(spark, t_small):
    """The one-pass job builds exactly one plan over the source per
    invocation (the old design re-filtered the full source P times)."""
    from mimir_spark.fixtures import TRANSCRIPT_SCHEMA

    calls = []

    def counting_source():
        calls.append(1)
        return spark.createDataFrame(t_small, schema=TRANSCRIPT_SCHEMA)

    import tempfile
    with tempfile.TemporaryDirectory() as d:
        store = TieredStore(d)
        rows = run_rollup_job(spark, counting_source, store, "job-scan",
                              num_partitions=6)
    assert len(rows) == 6
    assert len(calls) == 1


def test_compact_tier_equals_direct(spark, source, tmp_path):
    """Store-level compaction (1m -> 1h) must equal the directly
    computed 1h tier — aggregates AND chunk bytes."""
    s_fine = TieredStore(tmp_path / "fine")
    run_rollup_job(spark, source, s_fine, "jobc", num_partitions=3,
                   tiers=("1m",))
    assert s_fine.compact_tier(spark, "1m", "1h") == 3

    s_direct = TieredStore(tmp_path / "direct")
    run_rollup_job(spark, source, s_direct, "jobc", num_partitions=3,
                   tiers=("1m", "1h"))

    a = _read_all(spark, s_fine, "1h")
    b = _read_all(spark, s_direct, "1h")
    cols = [c for c in a.columns if c != "chunk"]
    pd.testing.assert_frame_equal(a[cols], b[cols], check_dtype=False)
    assert all(bytes(x) == bytes(y) for x, y in zip(a["chunk"], b["chunk"]))


def test_compact_tier_runs_no_spark_job(spark, source, tmp_path):
    """Compaction reads, re-rolls and writes each leaf on the driver:
    the status store lists no Spark job newer than the last one before
    compact_tier (job ids, not the list's size: the store evicts old
    jobs past spark.ui.retainedJobs), and the compacted leaves
    exist."""
    store = TieredStore(tmp_path / "s")
    run_rollup_job(spark, source, store, "j", num_partitions=2,
                   tiers=("1m",))
    sc = spark.sparkContext._jsc.sc()

    def job_ids():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    last = max(job_ids())
    assert store.compact_tier(spark, "1m", "1h") == 2
    assert max(job_ids()) == last
    assert any(store.tier_dir("1h").glob("p=*/bucket_date=*/*.parquet"))


def test_compact_tier_equals_spark_cascade(spark, source, tmp_path):
    """Differential: compact_tier's per-leaf driver loop writes exactly
    the rows the Spark ``cascade`` computes over the same fine rows,
    chunk bytes included, with ``max_points`` set, on a fine tier
    that holds a ``write_partition`` leaf (files with an inline
    ``tier`` column), a streamed file sharing minutes with it,
    codec-v0 and header-only chunks, a series whose only chunk is
    header-only, and ``_SUCCESS``, checksum and dot-prefixed files
    inside the leaves."""
    from mimir_spark import codec
    from mimir_spark.rollup import cascade
    from mimir_spark.streaming.rollup_stream import chunk_store_sink

    store = TieredStore(tmp_path / "diff")
    run_rollup_job(spark, source, store, "jd", num_partitions=2,
                   tiers=("1m",))
    cols = ["kind", "series_key", "metric", "bucket_ts", "cnt", "sum_v",
            "min_v", "max_v", "last_v", "chunk"]
    p0 = store.read_tier(spark, "1m").filter("p = 0").select(*cols) \
        .toPandas()
    p0["chunk"] = p0["chunk"].map(bytes)
    empty = codec.encode_chunk(np.array([], np.int64),
                               np.array([], np.float64))
    for i in p0.index[::4]:  # legacy chunks, same points
        p0.at[i, "chunk"] = codec.encode_chunk_v0(
            *codec.decode_all(p0.at[i, "chunk"]))
    p0.at[p0.index[1], "chunk"] = empty
    ghost = p0.iloc[[2]].assign(series_key="ghost", chunk=[empty])
    p0 = pd.concat([p0, ghost], ignore_index=True)
    store.write_partition(
        spark.createDataFrame(p0.assign(tier="1m")), "1m", 0)

    # streamed twins of some p=0 minutes, other values, same leaf
    twin = p0.iloc[3::5].copy()
    twin["chunk"] = [codec.encode_chunk(ts, v + 0.25) for ts, v in
                     map(codec.decode_all, twin["chunk"])]
    schema = store.read_tier(spark, "1m").select(*cols).schema
    chunk_store_sink(store, "1m", num_partitions=1)(
        spark.createDataFrame(twin, schema).withColumn(
            "bucket_ts", F.expr("cast(bucket_ts as timestamp_ntz)")), 0)
    leaves = sorted(store.tier_dir("1m").glob("p=*/bucket_date=*"))
    assert any(any(leaf.glob("stream-*")) and any(leaf.glob("part-*"))
               for leaf in leaves)
    assert any(leaf.glob(".*.crc") for leaf in leaves)
    for leaf in leaves:
        (leaf / "_SUCCESS").write_bytes(b"")
        (leaf / ".ghost.parquet.crc").write_bytes(b"not a checksum")
        (leaf / ".tmp-part-0.parquet").write_bytes(b"not parquet")

    key = ["p", "kind", "series_key", "metric", "bucket_ts"]
    out = [*key, "cnt", "sum_v", "min_v", "max_v", "last_v", "chunk"]
    want = cascade(store.read_tier(spark, "1m"), "1h", max_points=4) \
        .select(*out).toPandas()
    assert store.compact_tier(spark, "1m", "1h", max_points=4) == 2
    got = store.read_tier(spark, "1h")
    assert got.filter(F.to_date("bucket_ts") != F.col("bucket_date")) \
        .count() == 0
    got = got.select(*out).toPandas()
    want, got = (d.assign(chunk=d["chunk"].map(bytes))
                 .sort_values(key, kind="mergesort").reset_index(drop=True)
                 for d in (want, got))
    assert (want["cnt"] > 4).any()
    assert not (got["series_key"] == "ghost").any()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_compact_preserves_expired_fine_dates(spark, source, tmp_path):
    """Tiered retention's core contract: re-compacting after the fine
    tier expired its old dates must NOT destroy the coarse tier's
    history for those dates (the coarse tier's longer retention is the
    whole reason it exists). _stage_promote therefore swaps
    (p, bucket_date) LEAVES, never whole p= dirs."""
    s = TieredStore(tmp_path / "keepstore")
    run_rollup_job(spark, source, s, "jobk", num_partitions=3,
                   tiers=("1m",))
    s.compact_tier(spark, "1m", "1h")

    coarse_dates = sorted({d.name.split("=", 1)[1]
                           for d in s.tier_dir("1h").glob("p=*/bucket_date=*")})
    assert len(coarse_dates) > 1
    cutoff = coarse_dates[-1]
    old_dates = [d for d in coarse_dates if d < cutoff]
    before = s.read_tier(spark, "1h") \
        .filter(F.col("bucket_date").cast("string").isin(old_dates)) \
        .agg(F.sum("cnt"), F.sum("sum_v"), F.count("*")).first()

    # the fine tier ages out per its (shorter) retention policy
    s.expire("1m", cutoff)
    assert all(d.name.split("=", 1)[1] >= cutoff
               for d in s.tier_dir("1m").glob("p=*/bucket_date=*"))

    n = s.compact_tier(spark, "1m", "1h")
    assert n == 3  # every shard still has surviving dates to promote
    after = s.read_tier(spark, "1h") \
        .filter(F.col("bucket_date").cast("string").isin(old_dates)) \
        .agg(F.sum("cnt"), F.sum("sum_v"), F.count("*")).first()
    assert list(after) == list(before)  # coarse history intact
    # and the surviving date was genuinely recomputed, not dropped
    assert s.read_tier(spark, "1h") \
        .filter(F.col("bucket_date").cast("string") == cutoff).count() > 0


def _assert_date_partition_filter(df):
    """The bucket_date predicate must land in the scan's
    PartitionFilters (pruned at listing time), not in data filters."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    assert "bucket_date" in pf[1].split("]", 1)[0], plan


def _leaf_snapshot(root, pattern):
    """(path -> (size, mtime_ns)) for every parquet file under the
    matching leaves — identity evidence that dirs went untouched."""
    return {str(f): (f.stat().st_size, f.stat().st_mtime_ns)
            for leaf in root.glob(pattern) for f in leaf.glob("*.parquet")}


def test_incremental_compact_since(spark, source, tmp_path):
    """compact_tier(since=d) recomputes only dates >= d: the result
    equals the full recompute on those dates, older coarse leaves are
    bit-untouched (same files, sizes, mtimes), and no file of an older
    fine leaf is opened (an unreadable file planted there is never
    read). A ``since`` that is no ISO date raises before anything is
    touched: leaves are picked by comparing date strings, so
    ``2026-1-5`` would otherwise pick the wrong ones silently."""
    s = TieredStore(tmp_path / "incstore")
    run_rollup_job(spark, source, s, "jobi", num_partitions=3,
                   tiers=("1m",))
    s.compact_tier(spark, "1m", "1h")
    full = s.read_tier(spark, "1h").drop("chunk").toPandas()
    key = ["p", "kind", "series_key", "metric", "bucket_ts"]
    full = full.sort_values(key, kind="mergesort").reset_index(drop=True)

    dates = sorted({d.name.split("=", 1)[1]
                    for d in s.tier_dir("1m").glob("p=*/bucket_date=*")})
    assert len(dates) > 1
    cutoff = dates[-1]
    old_before = _leaf_snapshot(s.tier_dir("1h"),
                                f"p=*/bucket_date={dates[0]}")
    assert old_before
    old_fine = [leaf for leaf in s.tier_dir("1m").glob("p=*/bucket_date=*")
                if leaf.name.split("=", 1)[1] < cutoff]
    assert old_fine
    for leaf in old_fine:
        (leaf / "part-unreadable.parquet").write_bytes(b"not parquet")

    tree = sorted(s.root.rglob("*"))
    for bad in ("2026-1-5", "yesterday", "2026-02-30"):
        with pytest.raises(ValueError):
            s.compact_tier(spark, "1m", "1h", since=bad)
    assert sorted(s.root.rglob("*")) == tree

    n = s.compact_tier(spark, "1m", "1h", since=cutoff)
    assert n == 3
    got = s.read_tier(spark, "1h").drop("chunk").toPandas() \
        .sort_values(key, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, full, check_dtype=False)
    # older coarse leaves: the same files, byte-for-byte untouched
    assert _leaf_snapshot(s.tier_dir("1h"),
                          f"p=*/bucket_date={dates[0]}") == old_before
    # the planted files are read by a run that covers their dates
    with pytest.raises(Exception, match="[Pp]arquet"):
        s.compact_tier(spark, "1m", "1h")


def test_incremental_sketch_compact_since(spark, source, tmp_path):
    """compact_sketch_tier(since=d): same incremental contract for
    sketch tiers — recomputed dates match the full cascade, older
    date dirs bit-untouched, partition-pruned fine scan."""
    from mimir_spark.ingest import ingest, turn_metrics
    from mimir_spark.rollup import rollup_distinct_sketch

    s = TieredStore(tmp_path / "incsk")
    pts = turn_metrics(ingest(source()))
    s.write_sketch_tier(rollup_distinct_sketch(pts, "1m"), "1m")
    s.compact_sketch_tier(spark, "1m", "1h")
    key = ["kind", "series_key", "metric", "bucket_ts"]
    full = s.read_sketch_tier(spark, "1h") \
        .select(*key, "cnt", "n_distinct").toPandas() \
        .sort_values(key, kind="mergesort").reset_index(drop=True)

    dates = sorted(d.name.split("=", 1)[1]
                   for d in s.sketch_dir("1m").glob("bucket_date=*"))
    assert len(dates) > 1
    cutoff = dates[-1]
    old_before = _leaf_snapshot(s.sketch_dir("1h"),
                                f"bucket_date={dates[0]}")
    assert old_before

    n = s.compact_sketch_tier(spark, "1m", "1h", since=cutoff)
    assert n > 0
    got = s.read_sketch_tier(spark, "1h") \
        .select(*key, "cnt", "n_distinct").toPandas() \
        .sort_values(key, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, full, check_dtype=False)
    assert _leaf_snapshot(s.sketch_dir("1h"),
                          f"bucket_date={dates[0]}") == old_before
    _assert_date_partition_filter(
        s.read_sketch_tier(spark, "1m")
        .filter(F.col("bucket_date") >= F.lit(cutoff)))


def test_nightly_operations_equivalence(spark, source, tmp_path):
    """The full operational loop — nightly finest-tier rebuild +
    INCREMENTAL coarse cascades (--since) + fine-tier retention —
    converges to exactly the coarse tiers a from-scratch build
    produces (aggregates AND chunk bytes). This is the composition
    proof for leaf-granular promotes, since-filters, and expiry
    interacting across simulated nights."""
    # reference: one-shot build, full cascades, no retention
    ref = TieredStore(tmp_path / "ref")
    run_rollup_job(spark, source, ref, "ref", num_partitions=3,
                   tiers=("1m",))
    ref.compact_tier(spark, "1m", "1h")
    ref.compact_tier(spark, "1h", "1d")
    want_1h = _read_all(spark, ref, "1h")
    want_1d = _read_all(spark, ref, "1d")

    dates = sorted({d.name.split("=", 1)[1]
                    for d in ref.tier_dir("1m").glob("p=*/bucket_date=*")})
    assert len(dates) >= 4
    split = dates[len(dates) // 2]  # first "new" date of night 2

    op = TieredStore(tmp_path / "op")
    # night 1: raw holds only the early dates; initial full build
    early = source().filter(F.to_date("ts") < F.lit(split))
    run_rollup_job(spark, lambda: early, op, "night1",
                   num_partitions=3, tiers=("1m",))
    op.compact_tier(spark, "1m", "1h")
    op.compact_tier(spark, "1h", "1d")
    # fine-tier retention drops the oldest 1m date (coarse keeps it)
    op.expire("1m", dates[1])

    # night 2: raw grew; the job re-derives the finest tier from the
    # full source (whole-shard replace), the cascades run INCREMENTAL
    # from the first new date, retention re-expires the fine tier
    run_rollup_job(spark, source, op, "night2",
                   num_partitions=3, tiers=("1m",))
    op.compact_tier(spark, "1m", "1h", since=split)
    op.compact_tier(spark, "1h", "1d", since=split)
    op.expire("1m", dates[1])

    for tier, want in (("1h", want_1h), ("1d", want_1d)):
        got = _read_all(spark, op, tier)
        cols = [c for c in got.columns if c != "chunk"]
        pd.testing.assert_frame_equal(got[cols], want[cols],
                                      check_dtype=False)
        assert all(bytes(x) == bytes(y)
                   for x, y in zip(got["chunk"], want["chunk"]))


def test_compact_job_cli(spark, source, tmp_path, capsys):
    import sys as _sys

    from jobs.compact_job import main as compact_main

    store = TieredStore(tmp_path / "clistore")
    run_rollup_job(spark, source, store, "jobcli", num_partitions=2,
                   tiers=("1m",))
    rc = compact_main(["--store", str(tmp_path / "clistore"),
                       "--cascade", "1m:1h,1m:1d"])
    assert rc == 0
    assert store.read_tier(spark, "1h").count() > 0
    assert store.read_tier(spark, "1d").count() > 0


def test_empty_source_commits_zero_lineage(spark, tmp_path):
    """An all-empty source must still commit rows_in=0 lineage rows
    (not crash on the schema-less staged directory) so the job
    converges instead of re-failing on every retry."""
    from mimir_spark.fixtures import TRANSCRIPT_SCHEMA

    def empty():
        return spark.createDataFrame([], schema=TRANSCRIPT_SCHEMA)

    store = TieredStore(tmp_path / "store")
    rows = run_rollup_job(spark, empty, store, "job-empty", num_partitions=3)
    assert len(rows) == 3
    assert all(r["rows_in"] == 0 and r["points_out"] == 0 for r in rows)
    # converged: the rerun sees all partitions committed
    assert run_rollup_job(spark, empty, store, "job-empty",
                          num_partitions=3) == []


def test_tiered_store_factory_dispatch(spark, tmp_path):
    """'iceberg:' specs dispatch to the Iceberg backend (which must
    refuse cleanly without the runtime); paths give the parquet
    store."""
    from mimir_spark.lineage import TieredStore, tiered_store
    from mimir_spark.sources.tables import iceberg_available

    s = tiered_store(tmp_path / "plain")
    assert isinstance(s, TieredStore)
    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present — guard path not reachable")
    with pytest.raises(RuntimeError, match="[Ii]ceberg"):
        tiered_store("iceberg:cat.db.rollup", spark)

"""Store read path: chunks decode back to the exact ingested points,
range slicing prunes partitions and trims straddling chunks."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mimir_spark.ingest import dedup_turns, ingest, turn_metrics
from mimir_spark.lineage import TieredStore, run_rollup_job
from mimir_spark.read_path import decode_points, series_points


@pytest.fixture(scope="module")
def store(spark, t_small_df, tmp_path_factory):
    d = tmp_path_factory.mktemp("readpath")
    s = TieredStore(d / "store")

    def source():
        return t_small_df

    run_rollup_job(spark, source, s, "rp", num_partitions=3)
    return s


def test_decode_roundtrip_full_tier(spark, t_small_df, store):
    """decode_points(1m tier) == the exact point set that was rolled
    up (same multiset of (series, ts, v))."""
    want = turn_metrics(ingest(t_small_df)) \
        .select("kind", "series_key", "metric", "ts", "v").toPandas()
    got = decode_points(store.read_tier(spark, "1m")).toPandas()
    key = ["kind", "series_key", "metric", "ts", "v"]
    a = want.sort_values(key, kind="mergesort").reset_index(drop=True)
    b = got.sort_values(key, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_series_points_slice(spark, t_small_df, store):
    pts = turn_metrics(ingest(t_small_df)).toPandas()
    sub = pts[(pts.kind == "tool") & (pts.metric == "turn_rate")]
    sk = sub["series_key"].mode()[0]
    sub = sub[sub.series_key == sk].sort_values("ts")
    t0 = sub["ts"].quantile(0.25).floor("min")
    t1 = sub["ts"].quantile(0.75).floor("min")
    got = series_points(spark, store, "1m", kind="tool", series_key=sk,
                        metric="turn_rate", t0=str(t0), t1=str(t1)) \
        .toPandas().sort_values("ts").reset_index(drop=True)
    want = sub[(sub.ts >= t0) & (sub.ts < t1)][
        ["kind", "series_key", "metric", "ts", "v"]] \
        .sort_values("ts").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(want) > 0


def test_series_points_prunes_partitions(spark, store, t_small_df):
    pts = turn_metrics(ingest(t_small_df)).toPandas()
    days = sorted(pts["ts"].dt.date.unique())
    assert len(days) > 1
    t0 = str(days[-1])  # last day only
    df = series_points(spark, store, "1m", kind="conv", t0=t0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket_date" in plan
    got_days = {d for (d,) in
                df.select(F.to_date("ts")).distinct().collect()}
    assert got_days == {days[-1]}


# ---------------------------------------------------------------------------
# query_range: continuous-aggregate serving without decode


def test_select_tier_rules(spark):
    from mimir_spark.read_path import parse_step, query_range, select_tier

    assert select_tier("1m") == "1m"
    assert select_tier("5m") == "1m"
    assert select_tier("1h") == "1h"
    assert select_tier("2h") == "1h"      # coarsest divisor, not finest
    assert select_tier("90m") == "1m"     # 90m % 1h != 0
    assert select_tier("1d") == "1d"
    assert select_tier("2d") == "1d"
    assert parse_step("90s") == 90_000_000
    with pytest.raises(ValueError, match="not a multiple"):
        select_tier("90s")                # finer than any tier
    with pytest.raises(ValueError, match="bad step"):
        parse_step("1 fortnight")
    with pytest.raises(ValueError, match="unknown agg"):
        query_range(spark, None, "m", agg="median")


@pytest.mark.parametrize("agg", ["sum", "count", "min", "max", "last", "avg"])
def test_query_range_matches_point_oracle(spark, t_small_df, store, agg):
    """Every re-aggregation served from stored tier aggregates equals
    the same aggregate computed directly from the raw decoded points —
    the continuous-aggregate correctness contract."""
    from mimir_spark.read_path import query_range

    pts = turn_metrics(ingest(t_small_df)).toPandas()
    sub = pts[(pts.kind == "conv") & (pts.metric == "token_volume")].copy()
    sub["bucket_ts"] = sub["ts"].dt.floor("2h")
    g = sub.sort_values("ts").groupby("bucket_ts")["v"]
    want = {
        "sum": g.sum(), "count": g.count().astype(float), "min": g.min(),
        "max": g.max(), "last": g.last(), "avg": g.mean(),
    }[agg]
    got = query_range(spark, store, "token_volume", agg=agg, step="2h",
                      kind="conv").toPandas()
    got = got.groupby("bucket_ts")["value"].agg(
        "sum" if agg in ("sum", "count") else
        "min" if agg == "min" else "max" if agg == "max" else "first")
    if agg in ("last", "avg"):
        # cross-series last/avg don't combine by a simple groupby;
        # compare per-series instead
        sk = sub["series_key"].mode()[0]
        one = sub[sub.series_key == sk].sort_values("ts")
        go = one.groupby("bucket_ts")["v"]
        want = go.last() if agg == "last" else go.mean()
        got = query_range(spark, store, "token_volume", agg=agg, step="2h",
                          kind="conv", series_key=sk).toPandas() \
            .set_index("bucket_ts")["value"].sort_index()
    import numpy as np
    assert len(got) == len(want) > 0
    assert np.allclose(got.sort_index().to_numpy(np.float64),
                       want.sort_index().to_numpy(np.float64))


def test_query_range_tier_invariance(spark, store):
    """step=2h served from the auto-picked 1h tier equals the same
    query forced onto the 1m tier — associativity of the partial
    aggregates across tier splits."""
    from mimir_spark.read_path import query_range, select_tier

    assert select_tier("2h") == "1h"
    kw = dict(metric="turn_rate", agg="sum", step="2h", kind="conv")
    auto = query_range(spark, store, **kw).toPandas()
    fine = query_range(spark, store, tier="1m", **kw).toPandas()
    key = ["kind", "series_key", "metric", "bucket_ts"]
    a = auto.sort_values(key).reset_index(drop=True)
    b = fine.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    assert len(a) > 0


def test_query_range_no_decode_no_python(spark, store):
    """The aggregate path's plan touches no chunk column, runs no
    Python (no MapInPandas), and keeps bucket_date partition pruning
    when a time range is given."""
    from mimir_spark.read_path import query_range

    df = query_range(spark, store, "turn_rate", agg="sum", step="1h",
                     kind="conv", t0="2026-01-06")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "chunk" not in plan
    assert "PartitionFilters: [" in plan and "bucket_date" in plan


def test_query_range_fill_locf(spark, store, t_small_df):
    """fill='locf' on an arbitrary step: grid is dense between each
    series' first and last step bucket, synthesized buckets carry the
    previous value and filled=True."""
    from mimir_spark.read_path import query_range

    pts = turn_metrics(ingest(t_small_df)).toPandas()
    sk = pts[(pts.kind == "conv")]["series_key"].mode()[0]
    df = query_range(spark, store, "turn_rate", agg="sum", step="5m",
                     kind="conv", series_key=sk, fill="locf").toPandas() \
        .sort_values("bucket_ts").reset_index(drop=True)
    assert len(df) > 0
    spans = df["bucket_ts"].diff().dropna().dt.total_seconds()
    assert (spans == 300).all()          # dense 5m grid
    if df["filled"].any():
        i = df.index[df["filled"]][0]
        assert i > 0 and df.loc[i, "value"] == df.loc[i - 1, "value"]


def test_query_range_rate_matches_pandas_oracle(spark, t_small_df, store):
    """Counter increase per 2h step served from the store equals the
    pandas reset-rule oracle computed on the raw points — exact, not
    tier-approximated, because chunks store every sample."""
    import numpy as np

    from mimir_spark.read_path import query_range_rate

    pts = turn_metrics(ingest(t_small_df)).toPandas()
    sub = pts[(pts.kind == "conv") & (pts.metric == "token_volume")].copy()
    sub = sub.sort_values(["series_key", "ts"], kind="mergesort")
    prev = sub.groupby("series_key")["v"].shift()
    inc = np.where(prev.isna(), np.nan,
                   np.where(sub["v"] >= prev, sub["v"] - prev, sub["v"]))
    sub["inc"] = inc
    sub["bucket_ts"] = sub["ts"].dt.floor("2h")
    want = sub.groupby(["series_key", "bucket_ts"])["inc"].sum(min_count=1)

    got_df = query_range_rate(spark, store, "token_volume", step="2h",
                              kind="conv").toPandas()
    got = got_df.set_index(["series_key", "bucket_ts"])["value"].sort_index()
    want = want.sort_index()
    assert len(got) == len(want) > 0
    a, b = got.to_numpy(np.float64), want.to_numpy(np.float64)
    mask = ~np.isnan(b)
    assert np.allclose(a[mask], b[mask])
    assert np.isnan(a).sum() == np.isnan(b).sum()
    # per_second divides by the step width
    ps = query_range_rate(spark, store, "token_volume", step="2h",
                          kind="conv", per_second=True).toPandas() \
        .set_index(["series_key", "bucket_ts"])["value"].sort_index()
    assert np.allclose(ps.to_numpy(np.float64)[mask], a[mask] / 7200.0)


def test_query_range_rate_reset_handling(spark, tmp_path):
    """A counter that resets mid-bucket: the post-reset value counts
    fully (increase = v), matching the monitoring-engine rule."""
    import pandas as pd

    from mimir_spark.lineage import TieredStore
    from mimir_spark.read_path import query_range_rate
    from mimir_spark.rollup import rollup_points

    base = pd.Timestamp("2026-01-01 00:00:00")
    vals = [(0, 10.0), (10, 25.0), (20, 3.0), (30, 8.0)]  # reset at :20
    rows = [("ctr", "s", "reqs", base + pd.Timedelta(minutes=m), v, "c", 0)
            for m, v in vals]
    pts = spark.createDataFrame(pd.DataFrame(
        rows, columns=["kind", "series_key", "metric", "ts", "v",
                       "conv_id", "turn_idx"]))
    store = TieredStore(tmp_path / "ctr_store")
    store.write_partition(rollup_points(pts, tiers=("1m",))
                          .filter("tier = '1m'"), "1m", 0)
    out = query_range_rate(spark, store, "reqs", step="1h",
                           kind="ctr").collect()
    assert len(out) == 1
    # increases: NULL, 15, 3 (reset: full value), 5 -> 23
    assert out[0]["value"] == 23.0 and out[0]["n_samples"] == 4


def test_read_path_is_session_timezone_invariant(spark, store):
    """The engine's time contract is UTC wall clock; a dashboard
    session running under America/New_York or Asia/+05:30 must get
    IDENTICAL results (instants, counts, values) from every read
    surface. Pins three once-real bugs: boundary strings parsed in
    session tz, window() bucketing aligned to the session-tz epoch
    (half-hour shift under +05:30), and decoded naive timestamps
    interpreted as session-local by Arrow."""
    from mimir_spark.read_path import query_range, query_range_rate

    def dsum(c):
        return F.sum(F.unix_micros(c).cast("decimal(38,0)"))

    def sig():
        a = series_points(spark, store, "1m", kind="conv",
                          t0="2026-01-06", t1="2026-01-08")
        b = query_range(spark, store, "token_volume", agg="sum", step="2h",
                        kind="conv", t0="2026-01-06", t1="2026-01-08")
        c = query_range_rate(spark, store, "token_volume", step="2h",
                             kind="conv")
        return (tuple(a.agg(F.count("*"), dsum("ts"), F.sum("v")).first()),
                tuple(b.agg(F.count("*"), F.sum("value"),
                            dsum("bucket_ts")).first()),
                tuple(c.agg(F.count("*"), F.sum("value"),
                            dsum("bucket_ts")).first()))

    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        want = sig()
        assert want[0][0] > 0 and want[1][0] > 0 and want[2][0] > 0
        for tz in ("America/New_York", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            assert sig() == want, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_query_range_distinct_from_persisted_sketch(spark, t_small_df,
                                                    store):
    """Persisted sketch tier -> query_range_distinct at a 2h step ==
    exact distinct conv_id per (series, 2h bucket) computed from raw
    points (exact at fixture cardinalities), with the coarsest-divisor
    tier auto-selected."""
    from mimir_spark.read_path import query_range_distinct
    from mimir_spark.rollup import rollup_distinct_sketch

    points = turn_metrics(ingest(t_small_df)).filter(F.col("kind") == "tool")
    store.write_sketch_tier(rollup_distinct_sketch(points, "1h"), "1h")

    got = query_range_distinct(spark, store, "turn_rate", step="2h",
                               kind="tool").toPandas()
    key = ["kind", "series_key", "metric", "bucket_ts"]
    got = got.sort_values(key).reset_index(drop=True)
    us = F.unix_micros(F.col("ts"))
    exact = points.filter(F.col("metric") == "turn_rate").groupBy(
        "kind", "series_key", "metric",
        F.timestamp_micros(us - us % F.lit(7200 * 1_000_000))
        .alias("bucket_ts")) \
        .agg(F.count_distinct("conv_id").alias("nd"),
             F.count("*").alias("cnt")).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert len(got) == len(exact) > 0
    assert (got["n_distinct"].to_numpy() == exact["nd"].to_numpy()).all()
    assert (got["cnt"].to_numpy() == exact["cnt"].to_numpy()).all()


def test_sketch_tier_expires_with_aggregate_tier(spark, t_small_df,
                                                 tmp_path):
    """Retention covers sketch tiers: expire(tier, cutoff) drops the
    sketch tier's old date partitions alongside the aggregate tier's,
    and the surviving sketches still serve query_range_distinct."""
    from mimir_spark.lineage import TieredStore, run_rollup_job
    from mimir_spark.read_path import query_range_distinct
    from mimir_spark.rollup import rollup_distinct_sketch

    s = TieredStore(tmp_path / "exp_store")
    run_rollup_job(spark, lambda: t_small_df, s, "exp", num_partitions=2)
    points = turn_metrics(ingest(t_small_df))
    s.write_sketch_tier(rollup_distinct_sketch(points, "1h"), "1h")

    dates = sorted(d.name.split("=")[1]
                   for d in s.sketch_dir("1h").glob("bucket_date=*"))
    assert len(dates) > 1
    cutoff = dates[-1]  # keep only the last day
    dropped = s.expire("1h", cutoff)
    assert any("sketch=1h" in p for p in dropped)
    assert any("tier=1h" in p for p in dropped)
    left = {d.name.split("=")[1]
            for d in s.sketch_dir("1h").glob("bucket_date=*")}
    assert left == {dates[-1]}
    out = query_range_distinct(spark, s, "turn_rate", step="1h",
                               kind="conv")
    rows = out.collect()
    assert rows and all(str(r["bucket_ts"].date()) >= cutoff for r in rows)


def test_compact_sketch_tier_equals_direct(spark, t_small_df, tmp_path):
    """Store-level sketch cascade: 1m sketches unioned into an 1h
    sketch tier give the SAME estimates as sketching the raw points at
    1h directly (HLL union is exact over the sketch state), and the
    cascaded tier serves query_range_distinct."""
    from mimir_spark.read_path import query_range_distinct
    from mimir_spark.rollup import rollup_distinct_sketch

    s = TieredStore(tmp_path / "sk_store")
    points = turn_metrics(ingest(t_small_df))
    s.write_sketch_tier(rollup_distinct_sketch(points, "1m"), "1m")

    n = s.compact_sketch_tier(spark, "1m", "1h")
    assert n > 0

    key = ["kind", "series_key", "metric", "bucket_ts"]
    got = s.read_sketch_tier(spark, "1h") \
        .select(*key, "cnt", "n_distinct").toPandas() \
        .sort_values(key).reset_index(drop=True)
    want = rollup_distinct_sketch(points, "1h") \
        .select(*key, "cnt", "n_distinct").toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) == n
    assert (got["n_distinct"].to_numpy() == want["n_distinct"].to_numpy()).all()
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()

    out = query_range_distinct(spark, s, "turn_rate", step="2h",
                               kind="conv", tier="1h")
    assert out.count() > 0


def test_compact_sketch_tier_preserves_expired_dates_and_ledgers(
        spark, t_small_df, tmp_path):
    """Re-compaction after the fine tier expired old dates must NOT
    destroy the coarse tier's history for those dates (that history
    surviving fine-tier expiry is the point of retention tiers), and a
    replaced date keeps its streaming applied-batch ledger so a sink
    retry stays a no-op."""
    import json

    from mimir_spark.rollup import rollup_distinct_sketch

    s = TieredStore(tmp_path / "sk_keep")
    points = turn_metrics(ingest(t_small_df))
    s.write_sketch_tier(rollup_distinct_sketch(points, "1m"), "1m")
    s.compact_sketch_tier(spark, "1m", "1h")

    coarse_dates = sorted(d.name.split("=", 1)[1]
                          for d in s.sketch_dir("1h").glob("bucket_date=*"))
    assert len(coarse_dates) > 1
    cutoff = coarse_dates[-1]
    old_dates = [d for d in coarse_dates if d < cutoff]
    before_old = s.read_sketch_tier(spark, "1h") \
        .filter(F.col("bucket_date").cast("string").isin(old_dates)) \
        .agg(F.sum("cnt"), F.count("*")).first()

    # fine tier ages out; the coarse keep-date gains a streaming ledger
    for ddir in s.sketch_dir("1m").glob("bucket_date=*"):
        if ddir.name.split("=", 1)[1] < cutoff:
            import shutil
            shutil.rmtree(ddir)
    keep_dir = s.sketch_dir("1h") / f"bucket_date={cutoff}"
    (keep_dir / "_applied_batches.json").write_text(
        json.dumps(["stream/7"]))

    n = s.compact_sketch_tier(spark, "1m", "1h")
    # only the still-present fine date was recomputed and counted
    assert n == s.read_sketch_tier(spark, "1h") \
        .filter(F.col("bucket_date").cast("string") == cutoff).count()
    after_old = s.read_sketch_tier(spark, "1h") \
        .filter(F.col("bucket_date").cast("string").isin(old_dates)) \
        .agg(F.sum("cnt"), F.count("*")).first()
    assert list(after_old) == list(before_old)  # history intact
    assert json.loads(
        (keep_dir / "_applied_batches.json").read_text()) == ["stream/7"]


def test_compact_sketch_tier_crash_repair_and_empty_since(
        spark, t_small_df, tmp_path, monkeypatch):
    """The per-date swap is lineage.swap_dir: a crash between its two
    renames leaves the date (data AND its irreplaceable streaming
    ledger) in .old, restored on the next run. And a since past every
    fine date is a clean no-op — no empty tier dir left behind, no
    read of one attempted."""
    import json

    from mimir_spark import lineage
    from mimir_spark.rollup import rollup_distinct_sketch

    s = TieredStore(tmp_path / "sk_crash")
    points = turn_metrics(ingest(t_small_df))
    s.write_sketch_tier(rollup_distinct_sketch(points, "1m"), "1m")
    s.compact_sketch_tier(spark, "1m", "1h")

    dates = sorted(d.name.split("=", 1)[1]
                   for d in s.sketch_dir("1h").glob("bucket_date=*"))
    d = dates[0]
    ddir = s.sketch_dir("1h") / f"bucket_date={d}"
    (ddir / "_applied_batches.json").write_text(json.dumps(["stream/9"]))

    # crash window: the first date's live dir renamed to .old, its
    # staged replacement not yet renamed in
    def failpoint(name):
        if name == "swap_dir.moved_aside":
            raise RuntimeError(f"failpoint {name}")

    with monkeypatch.context() as m:
        m.setattr(lineage, "_failpoint", failpoint)
        with pytest.raises(RuntimeError, match="failpoint"):
            s.compact_sketch_tier(spark, "1m", "1h")
    assert not ddir.exists()
    assert (s.sketch_dir("1h") / f".old-bucket_date={d}").exists()

    s.compact_sketch_tier(spark, "1m", "1h")
    assert ddir.exists()
    # the ledger survived the crash + repair + re-replace
    assert json.loads(
        (ddir / "_applied_batches.json").read_text()) == ["stream/9"]
    assert not list(s.sketch_dir("1h").glob(".old-*"))

    # empty-since no-op on a store whose target tier does not exist
    s2 = TieredStore(tmp_path / "sk_empty")
    s2.write_sketch_tier(rollup_distinct_sketch(points, "1m"), "1m")
    assert s2.compact_sketch_tier(spark, "1m", "1h",
                                  since="2099-01-01") == 0
    assert not s2.sketch_dir("1h").exists()


def test_query_range_distinct_tier_autoselect_present_only(
        spark, t_small_df, tmp_path):
    """tier=None selects among sketch tiers that actually exist: a
    store holding only sketch=1h serves a 2h step (instead of failing
    on the absent 1m tier), and a sketch-less store raises a clear
    error."""
    from mimir_spark.read_path import query_range_distinct
    from mimir_spark.rollup import rollup_distinct_sketch

    s = TieredStore(tmp_path / "only1h")
    points = turn_metrics(ingest(t_small_df))
    s.write_sketch_tier(rollup_distinct_sketch(points, "1h"), "1h")
    out = query_range_distinct(spark, s, "turn_rate", step="2h",
                               kind="conv")
    assert out.count() > 0

    empty = TieredStore(tmp_path / "nosketch")
    with pytest.raises(ValueError, match="no sketch tier"):
        query_range_distinct(spark, empty, "turn_rate", step="2h")


def test_query_gaps_no_decode_no_python(spark, store):
    """The gap report's plan touches no chunk column, runs no Python,
    and keeps bucket_date partition pruning when a range is given —
    the same serving shape as query_range."""
    from mimir_spark.read_path import query_gaps

    import re

    df = query_gaps(spark, store, metric="turn_rate", tier="1h",
                    kind="conv", t0="2026-01-06")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    # the store's binary column is `chunk`; gapfill's internal grid
    # column `_chunk` is fine — match the attribute, not the substring
    assert not re.search(r"(?<![_\w])chunk#", plan)
    assert "PartitionFilters: [" in plan and "bucket_date" in plan


def test_query_range_weekly_step(spark, store, t_small_df):
    """step='1w' serves from the 1d tier (coarsest divisor) with
    epoch-aligned week buckets equal to a direct weekly aggregation
    of raw points."""
    from mimir_spark.read_path import query_range, select_tier

    assert select_tier("1w") == "1d"
    got = query_range(spark, store, "token_volume", agg="sum",
                      step="1w", kind="conv").toPandas()
    key = ["kind", "series_key", "metric", "bucket_ts"]
    got = got.sort_values(key).reset_index(drop=True)
    us = F.unix_micros(F.col("ts"))
    week_us = 7 * 86_400_000_000
    want = turn_metrics(ingest(t_small_df)) \
        .filter("kind = 'conv' AND metric = 'token_volume'") \
        .groupBy("kind", "series_key", "metric",
                 F.timestamp_micros(us - us % F.lit(week_us))
                 .alias("bucket_ts")) \
        .agg(F.sum("v").alias("value")).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert (abs(got["value"].to_numpy() - want["value"].to_numpy())
            < 1e-6).all()


def test_query_range_randomized_sweep(spark, store, t_small_df):
    """Seeded sweep over (agg, step, t0, t1) combinations: every
    served range equals the same aggregate computed from raw points
    restricted to the tier buckets the serving contract covers
    (step-bucket edges resolve at tier granularity)."""
    import random

    import numpy as np

    from mimir_spark.read_path import query_range, parse_step, select_tier

    rng = random.Random(0xC0FFEE)
    pts = turn_metrics(ingest(t_small_df)).toPandas()
    sub = pts[(pts.kind == "conv") & (pts.metric == "token_volume")]
    lo, hi = sub["ts"].min(), sub["ts"].max()
    span_s = (hi - lo).total_seconds()

    for case in range(8):
        agg = rng.choice(["sum", "count", "min", "max"])
        step = rng.choice(["5m", "30m", "1h", "2h", "6h", "1d"])
        step_s = parse_step(step) // 1_000_000
        tier = select_tier(step)
        # random sub-range, snapped to TIER buckets (the documented
        # edge contract: a step bucket overlapping t0/t1 keeps its
        # whole covered tier buckets; snapping isolates re-agg math)
        tier_s = {"1m": 60, "1h": 3600, "1d": 86400}[tier]
        a = lo + pd.Timedelta(seconds=rng.uniform(0, span_s * 0.4))
        b = lo + pd.Timedelta(seconds=rng.uniform(span_s * 0.6, span_s))
        a = a.floor(f"{tier_s}s")
        b = b.floor(f"{tier_s}s")
        got = query_range(spark, store, "token_volume", agg=agg,
                          step=step, kind="conv", t0=str(a), t1=str(b)) \
            .toPandas()
        g = got.groupby("bucket_ts")["value"]
        got_c = (g.sum() if agg in ("sum", "count")
                 else g.min() if agg == "min" else g.max()).sort_index()

        w = sub[(sub.ts >= a) & (sub.ts < b)].copy()
        # epoch-aligned step bucket of each point
        es = w["ts"].astype("int64") // 10**9
        w["bucket_ts"] = pd.to_datetime((es - es % step_s) * 10**9)
        gw = w.groupby("bucket_ts")["v"]
        want = {"sum": gw.sum(), "count": gw.count().astype(float),
                "min": gw.min(), "max": gw.max()}[agg].sort_index()
        # serving keeps whole step buckets overlapping the range edge;
        # compare on buckets fully inside [a, b)
        inner = [t for t in want.index
                 if t >= a and t + pd.Timedelta(seconds=step_s) <= b]
        assert inner, f"case {case}: empty inner range"
        gi = got_c.loc[[t for t in got_c.index if t in inner]]
        wi = want.loc[inner]
        assert len(gi) == len(wi), f"case {case} ({agg},{step},{a},{b})"
        assert np.allclose(gi.to_numpy(np.float64),
                           wi.to_numpy(np.float64)), \
            f"case {case} ({agg},{step},{a},{b})"

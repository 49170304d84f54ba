"""Query-side read path: tiered store -> decoded points.

The writer side (rollup/lineage) stores Gorilla-compressed chunks per
(tier, series, bucket); this is the reverse: give a user back raw
(ts, v) points for a series and time range, reading only the store
partitions the range touches.

Plan shape: the `bucket_date` partition column prunes the scan to the
range's days, the series columns prune via parquet row-group stats,
and only the matching rows' chunks are decoded (one Arrow pass,
vectorized codec). At 100 TB this is the dashboard-query path: a
series/day slice reads a few files, never the tier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codec
from .rollup import TIER_US


_POINTS_US_SCHEMA = ("kind string, series_key string, metric string, "
                     "ts_us long, v double")


def decode_points(rollup_df: DataFrame) -> DataFrame:
    """Decode every chunk of a rollup frame back to (series, ts, v)
    rows — one vectorized pass, chunks never leave their partition.

    The UDF emits epoch MICROSECONDS and the timestamp materializes
    via timestamp_micros on the JVM side: handing Arrow a naive
    datetime64 column would make it an instant in the SESSION
    timezone, silently shifting every decoded point under a non-UTC
    session (the codec's values are UTC wall clock by the engine's
    time contract)."""

    def decode(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            ts_us, v, counts = codec.decode_many(pdf["chunk"])
            yield pd.DataFrame({
                **{c: np.repeat(pdf[c].to_numpy(), counts)
                   for c in ("kind", "series_key", "metric")},
                "ts_us": ts_us, "v": v})

    return (rollup_df.select("kind", "series_key", "metric", "chunk")
            .mapInPandas(decode, _POINTS_US_SCHEMA)
            .select("kind", "series_key", "metric",
                    F.timestamp_micros("ts_us").alias("ts"), "v"))


def _utc_instant(s: str, floor_tier: str | None = None):
    """Boundary string -> instant literal, SESSION-TIMEZONE-FREE.

    The engine's time contract is UTC wall clock: stores are written
    under UTC sessions (session.get_spark pins it), so stored instants
    equal their UTC civil values. A dashboard session running with
    spark.sql.session.timeZone=America/New_York must not silently
    shift the queried range, so boundary strings are parsed
    driver-side as UTC wall time and folded in as epoch-microsecond
    literals (timestamp_micros — instant-exact under any session tz).
    ``floor_tier`` truncates to the tier bucket first (pandas floor —
    the tz-free analogue of date_trunc)."""
    t = pd.Timestamp(s)
    if t.tz is not None:  # explicit-offset strings convert to UTC
        t = t.tz_convert("UTC").tz_localize(None)
    if floor_tier is not None:
        t = t.floor({"minute": "min", "hour": "h", "day": "D"}
                    [_trunc_unit(floor_tier)])
    return F.timestamp_micros(F.lit(int(t.value // 1000)))


def _utc_date(s: str):
    """Boundary string -> its UTC calendar date as a date literal
    (date parsing is tz-free, but the time part must be dropped
    driver-side so '2026-01-06 23:00' prunes to 2026-01-06)."""
    t = pd.Timestamp(s)
    if t.tz is not None:
        t = t.tz_convert("UTC").tz_localize(None)
    return F.lit(t.date().isoformat()).cast("date")


def _pruned_tier(spark: SparkSession, store, tier: str,
                 kind: str | None, series_key: str | None,
                 metric: str | None, t0: str | None,
                 t1: str | None) -> DataFrame:
    """Tier rows for a slice, pruned at TWO storage levels: the
    ``bucket_date`` partition directories and the series/bucket_ts
    row filters (parquet row-group stats). Shared by the decode path
    (series_points — which adds the third, in-chunk level) and the
    aggregate path (query_range — which needs no decode at all).
    Range boundaries resolve in UTC regardless of the session
    timezone (see _utc_instant)."""
    df = store.read_tier(spark, tier)
    if kind is not None:
        df = df.filter(F.col("kind") == kind)
    if series_key is not None:
        df = df.filter(F.col("series_key") == series_key)
    if metric is not None:
        df = df.filter(F.col("metric") == metric)
    if t0 is not None:
        # a bucket starting before t0 can still contain points >= t0
        # only if it overlaps: bucket_ts >= trunc(t0) keeps the edge
        # bucket; bucket_date pruning follows from the same predicate
        df = df.filter(F.col("bucket_date") >= _utc_date(t0))
        df = df.filter(F.col("bucket_ts") >= _utc_instant(t0, tier))
    if t1 is not None:
        df = df.filter(F.col("bucket_ts") < _utc_instant(t1))
        df = df.filter(F.col("bucket_date") <= _utc_date(t1))
    return df


def series_points(spark: SparkSession, store, tier: str,
                  kind: str | None = None,
                  series_key: str | None = None,
                  metric: str | None = None,
                  t0: str | None = None,
                  t1: str | None = None) -> DataFrame:
    """Raw points for a series slice from a TieredStore.

    ``t0``/``t1`` (inclusive start, exclusive end; any Spark-castable
    timestamp string) prune at THREE levels: the ``bucket_date``
    partition directories, the bucket_ts row filter (row-group stats),
    and finally the decoded points themselves — a chunk straddling the
    range edge contributes only its in-range points."""
    df = _pruned_tier(spark, store, tier, kind, series_key, metric, t0, t1)
    pts = decode_points(df)
    if t0 is not None:
        pts = pts.filter(F.col("ts") >= _utc_instant(t0))
    if t1 is not None:
        pts = pts.filter(F.col("ts") < _utc_instant(t1))
    return pts


def _trunc_unit(tier: str) -> str:
    from .rollup import TIER_TRUNC

    return TIER_TRUNC[tier]


# ---------------------------------------------------------------------------
# aggregate read path: continuous-aggregate serving WITHOUT decode


_STEP_UNITS_US = {"s": 1_000_000, "m": 60_000_000,
                  "h": 3_600_000_000, "d": 86_400_000_000,
                  "w": 7 * 86_400_000_000}

#: step-level re-aggregations of the tier's partial aggregates
#: (thunks: Columns need an active session, so never built at import).
#: Every entry is associative over bucket splits, which is exactly
#: what makes serving from ANY tier whose width divides the step
#: correct.
_REAGG = {
    "sum": lambda: F.sum("sum_v"),
    "count": lambda: F.sum("cnt").cast("double"),
    "min": lambda: F.min("min_v"),
    "max": lambda: F.max("max_v"),
    "last": lambda: F.expr("max_by(last_v, bucket_ts)"),
    "avg": lambda: F.sum("sum_v") / F.sum("cnt"),
}


def _step_bucket(ts_col: str, step_us: int):
    """Epoch-aligned step bucket as pure integer arithmetic —
    deliberately NOT `F.window()`, whose origin is 1970-01-01 in the
    SESSION timezone (a +05:30 session shifts every 2h bucket by 30
    minutes). unix_micros is instant-based, so buckets land identically
    under any session tz and nest exactly with the UTC-written tiers.
    Same origin as date_trunc-under-UTC for s/m/h/d steps."""
    us = F.unix_micros(F.col(ts_col))
    return F.timestamp_micros(us - (us % F.lit(step_us))).alias("bucket_ts")


def floor_step_us(t: str, step_us: int) -> int:
    """UTC instant of ``t`` floored to the step grid, in epoch us —
    the complete-buckets-only boundary rule shared by alerting and
    recording (a partially-covered trailing bucket would flap as data
    arrives). Same UTC-wall-clock contract as _utc_instant."""
    tt = pd.Timestamp(t)
    if tt.tz is not None:
        tt = tt.tz_convert("UTC").tz_localize(None)
    us = int(tt.value // 1000)
    return us - (us % step_us)


def ts_of_us(us: int) -> str:
    """Epoch-us -> the engine's canonical boundary-string form."""
    return str(pd.Timestamp(us * 1000))


def parse_step(step: str) -> int:
    """'90s' / '5m' / '2h' / '1d' / '1w' -> microseconds.

    All steps are EPOCH-aligned (_step_bucket): a '1w' bucket starts
    on Thursdays (1970-01-01 was a Thursday), exactly like PromQL's
    range-vector alignment — not on Mondays. Weekly dashboards that
    need calendar weeks should aggregate the served '1d' buckets
    client-side (or post-group with date_trunc('week', ...))."""
    import re

    m = re.fullmatch(r"(\d+)([smhdw])", step.strip())
    if not m:
        raise ValueError(f"bad step {step!r} (expected <n>[smhdw])")
    us = int(m.group(1)) * _STEP_UNITS_US[m.group(2)]
    if us <= 0:
        raise ValueError(f"bad step {step!r}")
    return us


def select_tier(step: str, tiers=("1m", "1h", "1d")) -> str:
    """The COARSEST stored tier whose bucket width evenly divides the
    query step — the standard continuous-aggregate serving rule: a 2h
    step reads the 1h tier (2 rows per step bucket), never the 1m tier
    (120 rows), and both give identical results by associativity."""
    step_us = parse_step(step)
    fits = [t for t in tiers if step_us % TIER_US[t] == 0]
    if not fits:
        raise ValueError(
            f"step {step!r} is not a multiple of any stored tier "
            f"{tuple(tiers)}; pick a step divisible by one of them")
    return max(fits, key=lambda t: TIER_US[t])


def query_range(spark: SparkSession, store, metric: str,
                agg: str = "avg", step: str = "1h",
                t0: str | None = None, t1: str | None = None,
                kind: str | None = None,
                series_key: str | None = None,
                fill: str | None = None,
                tier: str | None = None,
                tiers=("1m", "1h", "1d")) -> DataFrame:
    """Dashboard range query served ENTIRELY from stored aggregates —
    the PromQL-style `query_range` surface over the tier store.

    Picks the coarsest tier dividing ``step`` (or uses ``tier``),
    reads only the pruned slice (`_pruned_tier`: bucket_date partition
    dirs + row-group stats), and re-aggregates the tier's partial
    aggregates into step buckets: sum->sum, count->sum(cnt),
    min->min, max->max, last->max_by(last_v, bucket_ts),
    avg->sum(sum_v)/sum(cnt). No chunk ever decodes and no Python
    runs — one hash aggregate over ~(range/tier) rows per series,
    which is why a year-long dashboard query at step=1d over a 100 TB
    corpus reads the 1d tier's few hundred rows per series instead of
    raw points. ``fill`` ('locf'/'linear') gap-fills the step grid
    (gapfill generalizes to arbitrary step widths).

    Range edges resolve at TIER-bucket granularity (a step bucket
    overlapping ``t0``/``t1`` keeps its whole covered tier buckets) —
    sub-bucket trimming requires decoding, which is series_points'
    job, not this path's.

    Returns (kind, series_key, metric, bucket_ts, value[, filled]).

    ``agg`` also accepts quantiles ('p50', 'p99', 'p99.9', ...): the
    query routes to the store's persisted histogram tier
    (query_range_quantile) and returns the same (… bucket_ts, value)
    shape — one dashboard verb for additive and sketch-served
    aggregates alike. Quantile aggs do not support ``fill`` (gap-fill
    a quantile estimate is a modeling choice, not a serving default).
    """
    import re

    qm = re.fullmatch(r"p(\d+(?:\.\d+)?)", agg)
    if qm:
        q = float(qm.group(1)) / 100.0
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile agg {agg!r} outside p0..p100")
        if fill is not None:
            raise ValueError("fill is not supported for quantile aggs")
        return query_range_quantile(
            spark, store, metric, qs={"value": q}, step=step, t0=t0,
            t1=t1, kind=kind, series_key=series_key, tier=tier,
            tiers=tiers).drop("cnt")
    if agg not in _REAGG:
        raise ValueError(f"unknown agg {agg!r} (one of "
                         f"{sorted(_REAGG)} or pNN quantiles)")
    step_us = parse_step(step)
    tier = tier or select_tier(step, tiers)
    if step_us % TIER_US[tier] != 0:
        raise ValueError(f"step {step!r} is not a multiple of tier {tier!r}")
    rows = _pruned_tier(spark, store, tier, kind, series_key, metric, t0, t1)
    out = (
        rows.groupBy("kind", "series_key", "metric",
                     _step_bucket("bucket_ts", step_us))
        .agg(_REAGG[agg]().alias("value"))
    )
    if fill is not None:
        from .gapfill import gapfill

        out = gapfill(out, step_us, value_col="value", method=fill)
    if t0 is not None:
        out = out.filter(F.col("bucket_ts")
                         >= _utc_instant(t0) - F.expr(
                             f"INTERVAL {(step_us - 1) // 1_000_000} SECONDS"))
    if t1 is not None:
        out = out.filter(F.col("bucket_ts") < _utc_instant(t1))
    return out


def query_gaps(spark: SparkSession, store, metric: str | None = None,
               tier: str = "1m", t0: str | None = None,
               t1: str | None = None, kind: str | None = None,
               series_key: str | None = None) -> DataFrame:
    """Missing-bucket report served from the tier store — the
    monitoring verb: per-series tier buckets with NO data between each
    series' first and last observed bucket in the (pruned) slice,
    labeled with the consecutive-run length (gapfill.missing_buckets).
    Reads only tier ROWS (no chunk decode, no Python): bucket_date
    dir pruning + row-group stats, like query_range."""
    rows = _pruned_tier(spark, store, tier, kind, series_key, metric,
                        t0, t1)
    from .gapfill import missing_buckets

    return missing_buckets(rows, tier)


def query_range_rate(spark: SparkSession, store, metric: str,
                     step: str = "1h", t0: str | None = None,
                     t1: str | None = None, kind: str | None = None,
                     series_key: str | None = None, tier: str = "1m",
                     per_second: bool = False) -> DataFrame:
    """Reset-aware counter ``increase`` (or per-second ``rate``) per
    step bucket — the PromQL counter verbs over the tier store.

    Unlike ``query_range`` this CANNOT be served from the stored
    partial aggregates (a counter reset inside a bucket is invisible
    to sum/min/max/last), but it does not need to be approximate
    either: the chunks store EVERY raw sample, so the pruned slice
    decodes (``series_points``) and the standard reset rule
    (functions.timeseries.with_increase — a drop is a restart, the
    post-reset value counts fully) runs exactly, one window per
    series, then one hash aggregate onto epoch-aligned step buckets.

    Boundary semantics match PromQL's lookbehind gap: the first
    decoded sample at the range edge has no previous sample in range
    and contributes NULL increase (pass an earlier ``t0`` to absorb
    the edge). Returns (kind, series_key, metric, bucket_ts, value,
    n_samples) where value = summed increase, divided by the step
    seconds when ``per_second``."""
    from .functions import timeseries as TS

    step_us = parse_step(step)
    pts = series_points(spark, store, tier, kind, series_key, metric, t0, t1)
    inc = TS.with_increase(pts)
    value = F.sum("increase")
    if per_second:
        value = value / F.lit(step_us / 1_000_000.0)
    return (
        inc.groupBy("kind", "series_key", "metric",
                    _step_bucket("ts", step_us))
        .agg(value.alias("value"), F.count("*").alias("n_samples"))
    )


def query_range_distinct(spark: SparkSession, store, metric: str,
                         step: str = "1h", t0: str | None = None,
                         t1: str | None = None, kind: str | None = None,
                         series_key: str | None = None,
                         tier: str | None = None,
                         tiers=("1m", "1h", "1d")) -> DataFrame:
    """Approximate DISTINCT counts per step bucket, served from a
    PERSISTED sketch tier (TieredStore.write_sketch_tier of
    rollup_distinct_sketch output) — the query_range verb for the one
    aggregate that is not additive: exact per-bucket distincts cannot
    re-aggregate, but HLL sketches union losslessly, so the same
    coarsest-divisor tier rule applies and the estimate equals a
    direct from-raw computation at the step granularity. Pruning:
    bucket_date partition dirs + row-group stats, identical to the
    aggregate path. Returns (kind, series_key, metric, bucket_ts,
    n_distinct, cnt)."""
    from .rollup import distinct_sketch_over_step

    step_us = parse_step(step)
    if tier is None:
        # unlike aggregate tiers (the job always writes all three),
        # sketch tiers exist only where requested — auto-select among
        # the ones actually present so a 1h-only store serves a 2h
        # step instead of failing on the absent 1m tier
        if hasattr(store, "sketch_dir"):
            present = [t for t in tiers
                       if any(store.sketch_dir(t).glob("bucket_date=*"))]
            if not present:
                raise ValueError(
                    f"store has no sketch tier (looked for {tuple(tiers)}); "
                    "write one with rollup_job --distinct-sketch or "
                    "TieredStore.write_sketch_tier")
            tiers = present
        tier = select_tier(step, tiers)
    if step_us % TIER_US[tier] != 0:
        raise ValueError(f"step {step!r} is not a multiple of tier {tier!r}")
    df = store.read_sketch_tier(spark, tier)
    if kind is not None:
        df = df.filter(F.col("kind") == kind)
    if series_key is not None:
        df = df.filter(F.col("series_key") == series_key)
    if metric is not None:
        df = df.filter(F.col("metric") == metric)
    if t0 is not None:
        df = df.filter(F.col("bucket_date") >= _utc_date(t0))
        df = df.filter(F.col("bucket_ts") >= _utc_instant(t0, tier))
    if t1 is not None:
        df = df.filter(F.col("bucket_ts") < _utc_instant(t1))
        df = df.filter(F.col("bucket_date") <= _utc_date(t1))
    out = distinct_sketch_over_step(df, step_us // 1_000_000) \
        .select("kind", "series_key", "metric", "bucket_ts",
                "n_distinct", "cnt")
    if t1 is not None:
        out = out.filter(F.col("bucket_ts") < _utc_instant(t1))
    return out


def query_range_quantile(spark: SparkSession, store, metric: str,
                         qs: dict[str, float] | None = None,
                         step: str = "1h", t0: str | None = None,
                         t1: str | None = None, kind: str | None = None,
                         series_key: str | None = None,
                         tier: str | None = None,
                         tiers=("1m", "1h", "1d"),
                         fractions: dict[str, float] | None = None
                         ) -> DataFrame:
    """Approximate quantiles per step bucket, served from a PERSISTED
    histogram tier (TieredStore.write_hist_tier of
    histogram.rollup_histogram output) — the query_range verb for the
    other non-additive aggregate: a p99-per-step cannot be derived
    from finer p99s, but DDSketch-style bin counts ADD, so the same
    coarsest-divisor tier rule applies and the estimate equals a
    direct from-raw histogram at the step granularity (relative error
    <= the tier's stored alpha). Pruning: bucket_date partition dirs +
    row-group stats, identical to the aggregate path; quantile
    evaluation is a pure expression fold — no Python anywhere.
    Returns (kind, series_key, metric, bucket_ts, cnt, <one column per
    requested quantile>); ``qs`` defaults to p50/p90/p99.
    ``fractions`` ({name: threshold}) appends estimated
    P(value <= threshold) columns — the SLO / histogram_fraction verb
    over the same tier."""
    from .histogram import (histogram_over_step, with_fractions,
                            with_quantiles)

    step_us = parse_step(step)
    if tier is None:
        # histogram tiers exist only where requested (like sketch
        # tiers) — auto-select among the ones actually present
        if hasattr(store, "hist_dir"):
            present = [t for t in tiers
                       if any(store.hist_dir(t).glob("bucket_date=*"))]
            if not present:
                raise ValueError(
                    f"store has no histogram tier (looked for "
                    f"{tuple(tiers)}); write one with rollup_job "
                    "--histogram or TieredStore.write_hist_tier")
            tiers = present
        tier = select_tier(step, tiers)
    if step_us % TIER_US[tier] != 0:
        raise ValueError(f"step {step!r} is not a multiple of tier {tier!r}")
    df = store.read_hist_tier(spark, tier)
    if kind is not None:
        df = df.filter(F.col("kind") == kind)
    if series_key is not None:
        df = df.filter(F.col("series_key") == series_key)
    if metric is not None:
        df = df.filter(F.col("metric") == metric)
    if t0 is not None:
        df = df.filter(F.col("bucket_date") >= _utc_date(t0))
        df = df.filter(F.col("bucket_ts") >= _utc_instant(t0, tier))
    if t1 is not None:
        df = df.filter(F.col("bucket_ts") < _utc_instant(t1))
        df = df.filter(F.col("bucket_date") <= _utc_date(t1))
    if qs is None:
        qs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    merged = histogram_over_step(df.drop("bucket_date"),
                                 step_us // 1_000_000)
    out = with_quantiles(merged, qs)
    if fractions:
        out = with_fractions(out, fractions)
    out = out.select("kind", "series_key", "metric", "bucket_ts", "cnt",
                     *qs.keys(), *(fractions or {}).keys())
    if t1 is not None:
        out = out.filter(F.col("bucket_ts") < _utc_instant(t1))
    return out


def _align_tier(t0: str | None, t1: str | None,
                tiers=("1m", "1h", "1d")) -> str:
    """Coarsest stored tier whose buckets NEST inside [t0, t1): both
    given bounds must land on tier-bucket boundaries. A range total
    served from a tier whose edge bucket straddles a bound would
    silently include out-of-range points; alignment makes any tier
    choice value-identical (associativity over whole buckets)."""
    fits = []
    for t in tiers:
        ok = True
        for s in (t0, t1):
            if s is None:
                continue
            ts = pd.Timestamp(s)
            if ts.tz is not None:
                ts = ts.tz_convert("UTC").tz_localize(None)
            if (ts.value // 1000) % TIER_US[t] != 0:
                ok = False
                break
        if ok:
            fits.append(t)
    if not fits:
        raise ValueError(
            f"range ({t0!r}, {t1!r}) aligns to no stored tier "
            f"{tuple(tiers)}; align the bounds or pass tier= explicitly")
    return max(fits, key=lambda t: TIER_US[t])


def query_topk_series(spark: SparkSession, store, metric: str, k: int,
                      agg: str = "sum", t0: str | None = None,
                      t1: str | None = None, kind: str | None = None,
                      bottom: bool = False, tier: str | None = None,
                      tiers=("1m", "1h", "1d")) -> DataFrame:
    """The k series with the largest (or, with ``bottom``, smallest)
    aggregate of ``metric`` over the range — the PromQL topk/bottomk
    analogue, served ENTIRELY from stored aggregates: no decode, no
    Python, one hash aggregate per series over the PRUNED slice of the
    coarsest range-aligned tier, then orderBy+limit (compiles to
    TakeOrderedAndProject: per-partition heaps of k, driver merge of
    k). At 100 TB a month-long top-10 reads the 1d tier's ~30 rows
    per series, never raw points.

    ``agg``: the same associative re-aggregations query_range serves
    (sum/count/min/max/avg; 'last' is meaningless as a range total).
    Ties break on series_key ascending (deterministic paging).
    Returns (kind, series_key, metric, value)."""
    if agg not in _REAGG or agg == "last":
        choices = sorted(set(_REAGG) - {"last"})
        raise ValueError(f"unknown agg {agg!r} (one of {choices})")
    if k < 1:
        raise ValueError("k must be >= 1")
    if tier is None:
        # restrict auto-selection to tiers the store actually holds —
        # a streaming-built store has only its live tier, a --tiers 1m
        # batch store only that one (same presence rule as the
        # distinct/quantile verbs)
        if hasattr(store, "tier_dir"):
            present = [t for t in tiers
                       if any(store.tier_dir(t).glob("p=*"))]
            if not present:
                raise ValueError(
                    f"store has no aggregate tier (looked for "
                    f"{tuple(tiers)})")
            tiers = present
        tier = _align_tier(t0, t1, tiers)
    rows = _pruned_tier(spark, store, tier, kind, None, metric, t0, t1)
    totals = (
        rows.groupBy("kind", "series_key", "metric")
        .agg(_REAGG[agg]().alias("value"))
    )
    order = F.asc("value") if bottom else F.desc("value")
    return totals.orderBy(order, F.asc("series_key"),
                          F.asc("kind")).limit(k)

"""Recording rules: materialize a derived signal (served aggregate,
counter rate, cross-metric binop) back into tier-store form so
dashboards, alert rules, and the decode path serve it as a
first-class metric — the Prometheus recording-rule / TimescaleDB
continuous-aggregate-on-expression analogue. New capability relative
to the reference (SURVEY.md engine-additions ledger).

Why it matters at 100 TB: a rate or ratio panel re-derives its signal
on every dashboard load — rate even decodes raw chunks. A recording
rule computes it once per refresh and stores it at a named tier, so
every read after that is the ordinary pruned-tier aggregate path.

Spark-first shape: the derived per-bucket values ARE points
(ts = bucket_ts, v = value), so materialization is the engine's own
rollup (`rollup.rollup_points`) at the rule's tier — real Gorilla
chunks included, which is what lets `series_points`/LTTB/z-scores
work on recordings unchanged. Writes go through the store's
(p, bucket_date)-leaf stage+swap (`TieredStore._stage_promote`), so
refreshes are DATE-INCREMENTAL: bucket-local sources (range aggs,
binops) recompute only dates at or after the high-water date and the
result provably equals a full rebuild; the rate source has per-sample
lookbehind (the increase at a boundary depends on the previous raw
sample, arbitrarily far back on a sparse series), so it rebuilds its
full window each refresh rather than pretend otherwise.

Re-aggregation caveat (same as Prometheus): a recorded avg
re-aggregated to a coarser step is the average of bucket-averages
(each recorded bucket carries cnt=1), not the point-weighted average.
Record sums when you need weighted re-aggregation.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, fields
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import lineage
from .lineage import TieredStore
from .read_path import floor_step_us, parse_step, ts_of_us
from .rollup import TIER_US

SERIES = ("kind", "series_key", "metric")

_SOURCES = ("range", "rate", "binop")


@dataclass(frozen=True)
class RecordingRule:
    """One recording rule. ``source`` picks the derivation:

    - 'range': ``query_range`` of ``metric`` with ``agg`` (incl. pNN
      quantiles from the histogram tier) at ``step``;
    - 'rate': reset-aware counter increase of ``metric`` per step
      (``per_second`` divides by the step seconds);
    - 'binop': ``left_metric <op> right_metric`` on the served
      ``agg`` values (PromQL vector arithmetic, join-free pivot).

    ``step`` must be a NAMED tier (1m/1h/1d): the recording is itself
    a tier store, so the whole read path — coarser-step re-
    aggregation, decode, LTTB, alerting — applies to it verbatim.
    The output metric is the rule's ``name``.
    """

    name: str
    source: str
    step: str = "1h"
    metric: str | None = None
    agg: str = "avg"
    kind: str | None = None
    series_key: str | None = None
    tier: str | None = None        # source tier override
    left_metric: str | None = None
    right_metric: str | None = None
    op: str = "/"
    per_second: bool = False

    def __post_init__(self):
        if self.source not in _SOURCES:
            raise ValueError(f"rule {self.name!r}: unknown source "
                             f"{self.source!r} (one of {_SOURCES})")
        if self.step not in TIER_US:
            raise ValueError(
                f"rule {self.name!r}: step={self.step!r} must be a "
                f"named tier {tuple(TIER_US)} — recordings are tier "
                "stores")
        if self.source in ("range", "rate") and self.metric is None:
            raise ValueError(f"rule {self.name!r}: source="
                             f"{self.source!r} requires metric")
        if self.source == "binop" and not (self.left_metric
                                           and self.right_metric):
            raise ValueError(f"rule {self.name!r}: source='binop' "
                             "requires left_metric and right_metric")

    def step_us(self) -> int:
        return parse_step(self.step)

    def fingerprint(self) -> str:
        d = {f.name: getattr(self, f.name) for f in fields(self)}
        return hashlib.md5(
            json.dumps(d, sort_keys=True).encode()).hexdigest()

    def date_incremental(self) -> bool:
        """Only per-bucket-self-contained sources refresh by date
        (module docstring)."""
        return self.source in ("range", "binop")


def load_recording_rules(path: str | Path) -> list[RecordingRule]:
    raw = json.loads(Path(path).read_text())
    if not isinstance(raw, list):
        raise ValueError(f"{path}: expected a JSON list of rules")
    rules = [RecordingRule(**d) for d in raw]
    if len({r.name for r in rules}) != len(rules):
        raise ValueError(f"{path}: duplicate rule names")
    return rules


def recording_store(store, name: str) -> TieredStore:
    """The per-rule recording tier store, nested under the main
    store's root — expiry/compaction tooling applies to it like any
    other store."""
    return TieredStore(Path(store.root) / "recordings" / f"rule={name}")


def _meta_path(rec: TieredStore) -> Path:
    return Path(rec.root) / "_recording.json"


def recording_meta(store, name: str) -> dict | None:
    p = _meta_path(recording_store(store, name))
    return json.loads(p.read_text()) if p.exists() else None


# shared boundary rule + formatting (read_path, same as alerts)
_floor_step_us = floor_step_us
_ts = ts_of_us


def derived_frame(spark: SparkSession, store, rule: RecordingRule,
                  t0: str | None, t1: str) -> DataFrame:
    """(kind, series_key, metric=<rule.name>, bucket_ts, value) for
    the rule's window — the signal before materialization."""
    from .read_path import query_range, query_range_rate

    if rule.source == "rate":
        df = query_range_rate(
            spark, store, rule.metric, step=rule.step, t0=t0, t1=t1,
            kind=rule.kind, series_key=rule.series_key,
            tier=rule.tier or "1m", per_second=rule.per_second
        ).drop("n_samples").filter(F.col("value").isNotNull())
        return df.withColumn("metric", F.lit(rule.name))
    if rule.source == "binop":
        from .functions.timeseries import series_binop

        served = query_range(spark, store, None, agg=rule.agg,
                             step=rule.step, t0=t0, t1=t1,
                             kind=rule.kind,
                             series_key=rule.series_key,
                             tier=rule.tier)
        return series_binop(served, rule.left_metric,
                            rule.right_metric, op=rule.op,
                            out_metric=rule.name, value_col="value") \
            .select("kind", "series_key", "metric", "bucket_ts",
                    "value")
    df = query_range(spark, store, rule.metric, agg=rule.agg,
                     step=rule.step, t0=t0, t1=t1, kind=rule.kind,
                     series_key=rule.series_key, tier=rule.tier)
    return df.withColumn("metric", F.lit(rule.name))


def _non_null(df: DataFrame) -> DataFrame:
    """NULL derived values (binop zero-division, one-sided buckets)
    must not materialize: rollup's float64 conversion would turn them
    into NaN rows that diverge from direct serving and — since Spark
    orders NaN above every double — spuriously breach any '>' alert
    on the recording."""
    return df.filter(F.col("value").isNotNull())


def refresh_recording(spark: SparkSession, store, rule: RecordingRule,
                      t1: str, t0: str | None = None,
                      num_partitions: int = 8) -> dict:
    """Materialize (or refresh) one recording up to ``t1`` (floored
    to the step grid — only complete buckets are recorded).

    Date-incremental sources resume from the high-water DATE: the
    last refreshed date recomputes in full and its (p, bucket_date)
    leaves swap atomically, so a partially-recorded trailing date
    heals and untouched dates keep their leaves — re-running with the
    same ``t1`` converges and the result equals a full rebuild.

    An explicit ``t0`` is a WINDOW recompute (compact --since
    semantics): leaves for dates >= t0 swap, older recorded dates are
    preserved. Only a changed rule definition (fingerprint) or a
    changed ``num_partitions`` (which re-keys the leaf layout — stale
    old-p leaves would double-count otherwise) rebuilds: the whole
    tier is staged and swapped in at once, so a crash mid-rebuild
    still serves the old recording."""
    from .rollup import rollup_points

    rec = recording_store(store, rule.name)
    step_us = rule.step_us()
    t1_us = _floor_step_us(t1, step_us)
    meta = recording_meta(store, rule.name)
    same = ((meta or {}).get("fingerprint") == rule.fingerprint()
            and (meta or {}).get("num_partitions") == num_partitions)
    prev_until = (meta or {}).get("refreshed_until_us")
    if not same:
        mode = "full"
        t0 = None  # the whole window re-derives
    elif (rule.date_incremental() and t0 is None
            and prev_until is not None and prev_until <= t1_us):
        if prev_until == t1_us:
            return {"mode": "noop", "touched": 0}
        t0 = str(pd.Timestamp(prev_until * 1000).date())
        mode = "incremental"
    else:
        mode = "window" if t0 is not None else "full"
    derived = derived_frame(spark, store, rule, t0, _ts(t1_us)) \
        .filter(F.col("bucket_ts") < F.timestamp_micros(F.lit(t1_us)))
    derived = _non_null(derived)
    points = derived.select(
        "kind", "series_key", "metric",
        F.col("bucket_ts").alias("ts"),
        F.col("series_key").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("value").alias("v"))
    rows = (rollup_points(points, tiers=(rule.step,),
                          num_partitions=num_partitions)
            .drop("tier")
            .withColumn("p", F.pmod(F.xxhash64("kind", "series_key"),
                                    F.lit(num_partitions)).cast("int"))
            .withColumn("bucket_date", F.to_date("bucket_ts")))
    touched = rec._stage_promote(rows, rule.step, f"rec-{rule.name}",
                                 whole_tier=not same)
    _meta_path(rec).parent.mkdir(parents=True, exist_ok=True)
    # a window recompute of an OLD range must not regress the
    # high-water mark (it would re-trigger forward recomputes)
    until = t1_us if mode != "window" else max(t1_us, prev_until or 0)
    lineage._failpoint("recording.meta")
    lineage.write_json_atomic(
        _meta_path(rec),
        {"fingerprint": rule.fingerprint(), "rule_name": rule.name,
         "step": rule.step, "refreshed_until_us": until,
         "num_partitions": num_partitions})
    return {"mode": mode, "touched": touched}


def query_recording(spark: SparkSession, store, name: str,
                    agg: str = "avg", step: str | None = None,
                    **kw) -> DataFrame:
    """Serve a recorded metric through the ordinary continuous-
    aggregate path: the recording IS a tier store, so coarser-step
    re-aggregation, pruning, and quantile routing all apply. ``step``
    defaults to the recorded tier."""
    from .read_path import query_range

    meta = recording_meta(store, name)
    if meta is None:
        raise ValueError(f"no recording named {name!r} under "
                         f"{Path(store.root) / 'recordings'}")
    rec = recording_store(store, name)
    return query_range(spark, rec, name, agg=agg,
                       step=step or meta["step"],
                       tier=meta["step"], **kw)


def run_recording_job(spark: SparkSession, store,
                      rules: list[RecordingRule], t1: str,
                      t0: str | None = None,
                      num_partitions: int = 8) -> dict[str, dict]:
    return {r.name: refresh_recording(spark, store, r, t1, t0=t0,
                                      num_partitions=num_partitions)
            for r in rules}

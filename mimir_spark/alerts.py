"""Alert-rule evaluation over the tier store: the operational verb
that pairs with continuous aggregates in every production timeseries
engine (Prometheus alerting rules with ``for:`` durations, M3/Influx
tasks). New capability relative to the reference (Mimir is a search
engine and has no alerting — SURVEY.md engine-additions ledger);
required by this engine's monitoring story: the store already serves
range/rate/quantile/anomaly queries, this turns them into durable,
resumable alert state.

Semantics (PromQL-flavored, batch/cron evaluation):

- a rule names a served signal (``query_range`` agg incl. pNN
  quantiles, counter ``rate``/``increase``, rolling or seasonal
  z-scores, or data ``absent``-ness), a comparison, and a ``for``
  duration expressed in step buckets;
- a series is FIRING once the condition has held for ``k =
  for/step`` consecutive step-grid buckets. A missing bucket breaks
  the run (conservative: no data is not evidence of breach);
- contiguous firing buckets form an EPISODE: one output row with
  started_at (first breach), fired_at (k-th consecutive breach),
  last_breach_at, n_breach, the run's extreme value/signal, and
  ``resolved`` (a later evaluated bucket ended the run). Episodes
  whose runs never reach k buckets are pending, not alerts, and are
  not recorded.

Spark-first shape: the signal is a served frame (tier rows only for
threshold/quantile/z-score/absent rules — bucket_date partition
pruning + row-group stats, no chunk decode), breach detection is one
filter, run detection is the gaps-and-islands idiom (grid index minus
row_number is constant within a consecutive run) — one window + one
hash aggregate per series, no joins, no Python. At 100 TB a year-long
rule over the 1h tier reads ~8.8k rows per series.

The ledger (AlertLedger) persists episodes per rule with the same
discipline as the tier store: staged write + atomic directory swap,
idempotent re-runs, and — for threshold rules, whose per-bucket
signal is self-contained — EXACT incremental evaluation: a re-run
reads only buckets after a high-water mark and splice-merges episodes
that cross the boundary, provably equal to a single-shot evaluation
(test_alerts pins incremental ≡ single-shot across split points).
Signals with lookbehind state (rate needs the previous raw sample,
z-scores need n prior samples, absent needs each series' first
bucket) re-evaluate their full window every run; they read only tier
rows (rate excepted) so the recompute is bounded by retention, not by
raw data.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import dataclass, fields
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import lineage
from .read_path import _utc_instant, floor_step_us, parse_step, ts_of_us

SERIES = ("kind", "series_key", "metric")

_OPS = {
    ">": lambda c, t: c > t,
    ">=": lambda c, t: c >= t,
    "<": lambda c, t: c < t,
    "<=": lambda c, t: c <= t,
}

#: episode output schema (shared by evaluation and the ledger)
EPISODE_COLS = ("kind", "series_key", "metric", "started_at",
                "fired_at", "last_breach_at", "n_breach", "peak_value",
                "peak_signal", "resolved")

#: max elements per generated sequence() in the absent-rule grid —
#: same bound (and reason) as gapfill._GRID_CHUNK
_GRID_CHUNK = 4096


@dataclass(frozen=True)
class AlertRule:
    """One alert rule. ``mode`` picks the signal:

    - 'threshold' (default): served ``agg`` value per step bucket
      (sum/count/min/max/last/avg, or pNN quantiles from the
      histogram tier); supports exact incremental evaluation.
    - 'rate': reset-aware counter increase per step bucket
      (``per_second`` divides by the step); decodes the pruned
      chunk slice.
    - 'zscore' / 'seasonal': |rolling z-score| of the served agg
      value (trailing ``window`` buckets; 'seasonal' compares
      same-phase buckets of ``period``). The signal is the ABSOLUTE
      z-score — both spikes and drops breach; use mode='threshold'
      for one-sided raw-value rules.
    - 'absent': fires when a series that has reported before stops
      reporting (or has an interior gap) for ``for`` duration;
      op/threshold are unused.
    """

    name: str
    metric: str
    op: str = ">"
    threshold: float | None = None
    agg: str = "avg"
    step: str = "1h"
    for_: str | None = None  # JSON key "for"
    mode: str = "threshold"
    kind: str | None = None
    series_key: str | None = None
    tier: str | None = None
    window: int = 20          # z-score baseline buckets
    period: str | None = None  # seasonal phase period, e.g. '1d'
    per_second: bool = False   # rate mode: rate vs increase

    def __post_init__(self):
        if self.mode not in ("threshold", "rate", "zscore", "seasonal",
                             "absent"):
            raise ValueError(f"rule {self.name!r}: unknown mode "
                             f"{self.mode!r}")
        if self.mode != "absent":
            if self.op not in _OPS:
                raise ValueError(f"rule {self.name!r}: unknown op "
                                 f"{self.op!r} (one of {sorted(_OPS)})")
            if self.threshold is None:
                raise ValueError(f"rule {self.name!r}: threshold "
                                 "required (except mode='absent')")
        if self.mode == "seasonal":
            if self.period is None:
                raise ValueError(f"rule {self.name!r}: mode='seasonal' "
                                 "requires period")
            if parse_step(self.period) % self.step_us() != 0:
                raise ValueError(
                    f"rule {self.name!r}: step={self.step!r} must "
                    f"divide period={self.period!r} or phases "
                    "interleave")
        self.k()  # validates for/step divisibility eagerly

    def step_us(self) -> int:
        return parse_step(self.step)

    def k(self) -> int:
        """Consecutive breaching buckets required to fire (>= 1)."""
        if self.for_ is None:
            return 1
        for_us = parse_step(self.for_)
        if for_us % self.step_us() != 0:
            raise ValueError(
                f"rule {self.name!r}: for={self.for_!r} is not a "
                f"multiple of step={self.step!r}")
        return max(1, for_us // self.step_us())

    def fingerprint(self) -> str:
        """Stable hash of the rule definition — a changed rule
        invalidates its ledger (full rebuild on next run)."""
        d = {f.name: getattr(self, f.name) for f in fields(self)}
        return hashlib.md5(
            json.dumps(d, sort_keys=True).encode()).hexdigest()

    def incremental(self) -> bool:
        """Only per-bucket-self-contained signals support exact
        incremental evaluation (module docstring)."""
        return self.mode == "threshold"


def load_rules(path: str | Path) -> list[AlertRule]:
    """Rules from a JSON file: a list of objects whose keys mirror
    AlertRule fields (``for`` maps to ``for_``)."""
    raw = json.loads(Path(path).read_text())
    if not isinstance(raw, list):
        raise ValueError(f"{path}: expected a JSON list of rules")
    rules = []
    for d in raw:
        d = dict(d)
        if "for" in d:
            d["for_"] = d.pop("for")
        rules.append(AlertRule(**d))
    if len({r.name for r in rules}) != len(rules):
        raise ValueError(f"{path}: duplicate rule names")
    return rules


# ---------------------------------------------------------------------------
# signal construction


# complete-buckets-only boundary rule + canonical formatting live in
# read_path (floor_step_us / ts_of_us), shared with recording rules
_floor_step_us = floor_step_us
_ts_str = ts_of_us


def rule_signal(spark: SparkSession, store, rule: AlertRule,
                t0: str | None, t1_us: int) -> DataFrame:
    """Served frame (SERIES, bucket_ts, value, signal) for the rule's
    window; ``signal`` is the column the comparison applies to."""
    from .read_path import query_range, query_range_rate

    t1 = _ts_str(t1_us)
    if rule.mode == "rate":
        df = query_range_rate(
            spark, store, rule.metric, step=rule.step, t0=t0, t1=t1,
            kind=rule.kind, series_key=rule.series_key,
            tier=rule.tier or "1m", per_second=rule.per_second
        ).drop("n_samples").filter(F.col("value").isNotNull())
        return df.withColumn("signal", F.col("value"))
    df = query_range(spark, store, rule.metric, agg=rule.agg,
                     step=rule.step, t0=t0, t1=t1, kind=rule.kind,
                     series_key=rule.series_key, tier=rule.tier)
    if rule.mode in ("zscore", "seasonal"):
        from .functions import timeseries as TS

        if rule.mode == "zscore":
            df = TS.with_zscore(df, value_col="value", n=rule.window,
                                time_col="bucket_ts")
            z = F.col("zscore")
        else:
            df = TS.with_seasonal_zscore(
                df, parse_step(rule.period) // 1_000_000,
                value_col="value", n=rule.window, time_col="bucket_ts")
            z = F.col("seasonal_zscore")
        return (df.withColumn("signal", F.abs(z)).filter(
            F.col("signal").isNotNull())
            .select(*SERIES, "bucket_ts", "value", "signal"))
    return df.withColumn("signal", F.col("value"))


# ---------------------------------------------------------------------------
# episode derivation (gaps-and-islands over the step grid)


def breach_episodes(served: DataFrame, op: str, threshold: float,
                    k: int, step_us: int, eval_until_us: int,
                    min_n: int | None = None) -> DataFrame:
    """Episodes (EPISODE_COLS) from a served (SERIES, bucket_ts,
    value, signal) frame evaluated over buckets < ``eval_until_us``.

    Consecutive-run detection is pure grid arithmetic: bucket index
    minus row_number is constant within a run, so one window + one
    hash aggregate per series finds every run — missing grid buckets
    change the index but not the row number, breaking the run exactly
    as the semantics require. ``min_n`` overrides the n >= k episode
    filter (the incremental merge needs sub-k boundary runs to splice
    with their recorded prefixes)."""
    if min_n is None:
        min_n = k
    extreme = F.min if op in ("<", "<=") else F.max
    last_eval_idx = eval_until_us // step_us - 1
    br = (served.filter(F.col("bucket_ts")
                        < F.timestamp_micros(F.lit(eval_until_us)))
          .filter(_OPS[op](F.col("signal"), F.lit(float(threshold))))
          .withColumn("_idx", F.expr(f"unix_micros(bucket_ts) div {step_us}")))
    w = Window.partitionBy(*SERIES).orderBy("_idx")
    ep = (br.withColumn("_island", F.col("_idx") - F.row_number().over(w))
          .groupBy(*SERIES, "_island")
          .agg(F.min("_idx").alias("_s"), F.max("_idx").alias("_e"),
               F.count("*").alias("n_breach"),
               extreme("value").alias("peak_value"),
               extreme("signal").alias("peak_signal"))
          .filter(F.col("n_breach") >= min_n))
    return ep.select(
        *SERIES,
        F.timestamp_micros(F.col("_s") * step_us).alias("started_at"),
        F.timestamp_micros((F.col("_s") + (k - 1)) * step_us).alias("fired_at"),
        F.timestamp_micros(F.col("_e") * step_us).alias("last_breach_at"),
        "n_breach", "peak_value", "peak_signal",
        (F.col("_e") < F.lit(last_eval_idx)).alias("resolved"))


def absent_episodes(spark: SparkSession, store, rule: AlertRule,
                    t0: str | None, t1_us: int) -> DataFrame:
    """Absence runs as episodes: per series that has EVER reported the
    metric (within the window), every step-grid bucket from its first
    observed bucket through the last evaluated bucket with no data,
    grouped into consecutive runs of length >= k. Trailing absence (a
    series that died) is an OPEN episode (resolved=false). Reads only
    tier rows (query_range agg='count'), never chunks.

    The grid expands in two bounded levels (chunked sequence(), same
    rationale as gapfill._GRID_CHUNK) and stays partitioned by series;
    the anti-join's present side is the served frame itself."""
    from .read_path import query_range

    step_us = rule.step_us()
    k = rule.k()
    present = query_range(
        spark, store, rule.metric, agg="count", step=rule.step, t0=t0,
        t1=_ts_str(t1_us), kind=rule.kind, series_key=rule.series_key,
        tier=rule.tier
    ).filter(F.col("bucket_ts") < F.timestamp_micros(F.lit(t1_us))) \
        .withColumn("_idx", F.expr(f"unix_micros(bucket_ts) div {step_us}"))
    hi = t1_us // step_us - 1  # last evaluated bucket index
    grid = (present.groupBy(*SERIES)
            .agg(F.min("_idx").alias("_lo"))
            .filter(F.col("_lo") <= F.lit(hi))
            .select(*SERIES, F.explode(
                F.sequence(F.col("_lo"), F.lit(hi),
                           F.lit(_GRID_CHUNK))).alias("_chunk"))
            .select(*SERIES, F.explode(
                F.sequence(F.col("_chunk"),
                           F.least(F.col("_chunk") + (_GRID_CHUNK - 1),
                                   F.lit(hi)))).alias("_idx")))
    missing = grid.join(present.select(*SERIES, "_idx"),
                        [*SERIES, "_idx"], "left_anti")
    w = Window.partitionBy(*SERIES).orderBy("_idx")
    ep = (missing.withColumn("_island",
                             F.col("_idx") - F.row_number().over(w))
          .groupBy(*SERIES, "_island")
          .agg(F.min("_idx").alias("_s"), F.max("_idx").alias("_e"),
               F.count("*").alias("n_breach"))
          .filter(F.col("n_breach") >= k))
    return ep.select(
        *SERIES,
        F.timestamp_micros(F.col("_s") * step_us).alias("started_at"),
        F.timestamp_micros((F.col("_s") + (k - 1)) * step_us).alias("fired_at"),
        F.timestamp_micros(F.col("_e") * step_us).alias("last_breach_at"),
        "n_breach",
        F.lit(None).cast("double").alias("peak_value"),
        F.lit(None).cast("double").alias("peak_signal"),
        (F.col("_e") < F.lit(hi)).alias("resolved"))


def evaluate_rule(spark: SparkSession, store, rule: AlertRule,
                  t1: str, t0: str | None = None,
                  min_n: int | None = None,
                  warmup_t0: str | None = None) -> DataFrame:
    """Single-shot evaluation of one rule over [t0, t1) — t1 floors to
    the step grid so only complete buckets count. ``warmup_t0``
    (z-score/seasonal rules only) reads extra leading buckets for the
    baseline without reporting breaches before ``t0``."""
    t1_us = _floor_step_us(t1, rule.step_us())
    if rule.mode == "absent":
        return absent_episodes(spark, store, rule, t0, t1_us)
    served = rule_signal(spark, store, rule, warmup_t0 or t0, t1_us)
    if warmup_t0 is not None and t0 is not None:
        served = served.filter(
            F.col("bucket_ts") >= _utc_instant(t0))
    return breach_episodes(served, rule.op, rule.threshold, rule.k(),
                           rule.step_us(), t1_us, min_n=min_n)


# ---------------------------------------------------------------------------
# ledger


class AlertLedger:
    """Durable per-rule episode tables under ``root``: one parquet
    directory per rule plus a _meta.json sidecar carrying the rule
    fingerprint and the evaluation high-water mark. Writes stage under
    ``_staging`` and land with ``lineage.swap_dir``: a crash leaves
    the old or the new ledger (or, between the swap's renames, none —
    run_alert_job then rebuilds the full history), and re-running
    converges. Meta lands AFTER the swap, so a crash between them
    re-evaluates — idempotent, never lossy."""

    def __init__(self, root: str | Path):
        self.root = Path(root)

    def rule_dir(self, name: str) -> Path:
        return self.root / f"rule={name}"

    def _meta_path(self, name: str) -> Path:
        # NOT with_suffix: a dotted rule name ('api.p99') would have
        # its "extension" stripped and collide with its siblings
        return self.root / f"rule={name}.meta.json"

    def meta(self, name: str) -> dict | None:
        p = self._meta_path(name)
        if not p.exists():
            return None
        return json.loads(p.read_text())

    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        d = self.rule_dir(name)
        if not d.exists():
            return None
        return spark.read.parquet(str(d))

    def write(self, df: DataFrame, name: str, meta: dict) -> None:
        stage = self.root / "_staging" / f"rule={name}"
        if stage.exists():
            shutil.rmtree(stage)
        df.select(*EPISODE_COLS).coalesce(1).write.mode(
            "overwrite").parquet(str(stage))
        lineage.swap_dir(stage, self.rule_dir(name))
        lineage.drop_staging(stage)
        lineage._failpoint("alerts.meta")
        lineage.write_json_atomic(self._meta_path(name), meta)

    def open_alerts(self, spark: SparkSession) -> DataFrame | None:
        """All unresolved episodes across rules, tagged by rule name —
        the pager view. The rule column comes from the ``rule=<name>``
        directory layout (standard partition inference), so the
        parquet rows themselves stay rule-agnostic."""
        dirs = sorted(d for d in self.root.glob("rule=*") if d.is_dir())
        if not dirs:
            return None
        df = spark.read.option("basePath", str(self.root)) \
            .parquet(*[str(d) for d in dirs])
        return df.filter(~F.col("resolved")).select("rule", *EPISODE_COLS)


def _merge_incremental(spark: SparkSession, old: DataFrame,
                       new: DataFrame, rule: AlertRule,
                       w0_us: int) -> DataFrame:
    """Splice-merge for exact incremental threshold evaluation.

    ``new`` holds episodes derived from buckets >= W0 with min_n=1
    (sub-k boundary runs included). Cases, each provably equal to the
    single-shot derivation (buckets are immutable once evaluated):

    - old episodes ending >= 2 steps before W0: runs that cannot
      reach W0 — kept verbatim;
    - old episodes STARTING before W0 with last_breach >= W0 - step:
      the run crosses (or abuts) W0; if a new run starts EXACTLY at
      W0 on the same series it is the continuation (grid contiguity;
      at most one old run per series can touch the boundary) —
      splice: keep the old start/fired, take the new end/resolved,
      extend counts and extremes. No continuation means the W0 bucket
      was evaluated and did not breach (or was missing): the episode
      resolves;
    - old episodes starting AT or AFTER W0 are dropped: their buckets
      are inside the re-evaluated window and ``new`` re-derives them
      exactly (buckets are immutable);
    - new runs starting > W0 (or at W0 with no old prefix) stand
      alone if they reached k buckets; shorter ones are pending and
      are dropped (they re-derive inside the next run's lookback —
      a run still alive at the old boundary has fewer than k buckets
      if unrecorded, so it always starts >= W0).
    """
    step_us = rule.step_us()
    k = rule.k()
    extreme = F.least if rule.op in ("<", "<=") else F.greatest
    w0_lit = F.timestamp_micros(F.lit(w0_us))
    boundary = F.timestamp_micros(F.lit(w0_us - step_us))

    old_keep = old.filter(F.col("last_breach_at") < boundary)
    old_splice = old.filter((F.col("last_breach_at") >= boundary)
                            & (F.col("started_at") < w0_lit))
    new_boundary = new.filter(F.col("started_at") == w0_lit)
    new_rest = new.filter((F.col("started_at") > w0_lit)
                          & (F.col("n_breach") >= k))

    o, n = old_splice.alias("o"), new_boundary.alias("n")
    joined = o.join(n, on=list(SERIES), how="full_outer")
    # old buckets strictly before W0 (contiguous run => pure grid math)
    old_n_before_w0 = ((F.lit(w0_us)
                        - F.unix_micros(F.col("o.started_at")))
                       / F.lit(step_us)).cast("long")
    spliced = joined.select(
        *[F.coalesce(F.col(f"o.{c}"), F.col(f"n.{c}")).alias(c)
          for c in SERIES],
        F.coalesce("o.started_at", "n.started_at").alias("started_at"),
        F.coalesce("o.fired_at", "n.fired_at").alias("fired_at"),
        F.coalesce("n.last_breach_at", "o.last_breach_at")
        .alias("last_breach_at"),
        F.when(F.col("o.started_at").isNull(), F.col("n.n_breach"))
        .when(F.col("n.started_at").isNull(), F.col("o.n_breach"))
        .otherwise(old_n_before_w0 + F.col("n.n_breach"))
        .alias("n_breach"),
        F.coalesce(extreme("o.peak_value", "n.peak_value"),
                   "o.peak_value", "n.peak_value").alias("peak_value"),
        F.coalesce(extreme("o.peak_signal", "n.peak_signal"),
                   "o.peak_signal", "n.peak_signal").alias("peak_signal"),
        F.when(F.col("n.started_at").isNull(), F.lit(True))
        .otherwise(F.col("n.resolved")).alias("resolved"),
    ).filter(F.col("n_breach") >= k)
    return old_keep.unionByName(spliced).unionByName(new_rest)


#: z-score warmup over-read factor: trailing baselines count SAMPLES,
#: not buckets, so a scoped rebuild reads WINDOW x SLACK buckets
#: before t0 — exact down to ~1/SLACK bucket density; sparser series
#: may still see a shorter baseline near t0 (the same honesty line
#: that keeps these modes out of incremental resume)
_WARMUP_SLACK = 4


def _rebuild_warmup_t0(rule: AlertRule, t0: str | None) -> str | None:
    """Baseline warmup for a scoped (--t0) rebuild of z-score rules —
    see _WARMUP_SLACK for the exactness contract."""
    if t0 is None or rule.mode not in ("zscore", "seasonal"):
        return None
    if rule.mode == "zscore":
        lookback = (rule.window * _WARMUP_SLACK + rule.k()) \
            * rule.step_us()
    else:
        lookback = (rule.window * _WARMUP_SLACK * parse_step(rule.period)
                    + rule.k() * rule.step_us())
    return _ts_str(_floor_step_us(t0, rule.step_us()) - lookback)


def run_alert_job(spark: SparkSession, store, rules: list[AlertRule],
                  ledger: AlertLedger, t1: str,
                  t0: str | None = None) -> dict[str, dict]:
    """Evaluate every rule up to ``t1`` and persist episodes.

    Threshold rules resume from their ledger high-water mark with a
    (k-1)-bucket lookback: an unrecorded run still alive at the old
    boundary has at most k-1 buckets, and a recorded open episode
    touches the boundary itself, so W0 = prev_until - (k-1)*step
    covers both and _merge_incremental splices runs that cross it —
    the merged ledger provably equals a single-shot evaluation, and a
    re-run with the same ``t1`` is a no-op on the episode set. Other
    modes re-evaluate their window in full (module docstring). A
    changed rule definition (fingerprint) or an explicit ``t0``
    forces a full rebuild. Returns per-rule stats for the CLI
    report."""
    # a stale --t1 behind a ledger's high-water mark would rebuild
    # truncated history and silently discard recorded episodes after
    # t1; refuse instead (recording.py guards its high-water mark the
    # same way). Every rule is checked before any is evaluated, so a
    # refused job writes nothing rather than half its rules.
    for rule in rules:
        meta = ledger.meta(rule.name) or {}
        prev_until = meta.get("evaluated_until_us")
        if (meta.get("fingerprint") == rule.fingerprint()
                and prev_until is not None
                and _floor_step_us(t1, rule.step_us()) < prev_until):
            raise ValueError(
                f"rule {rule.name!r}: t1={t1!r} is before the ledger's "
                f"evaluated_until ({_ts_str(prev_until)}); refusing to "
                "regress the high-water mark — pass a t1 at or after "
                "it (or change the rule to force a rebuild)")
    report: dict[str, dict] = {}
    for rule in rules:
        step_us = rule.step_us()
        t1_us = _floor_step_us(t1, step_us)
        meta = ledger.meta(rule.name)
        old = ledger.read(spark, rule.name)
        prev_until = (meta or {}).get("evaluated_until_us")
        same_rule = (meta or {}).get("fingerprint") == rule.fingerprint()
        # old is not None guards the torn-write case: a meta sidecar
        # whose directory vanished (crash between the ledger swap's
        # renames) must trigger a full-history rebuild, never an
        # incremental resume over missing episodes
        incremental = (rule.incremental() and same_rule and t0 is None
                       and old is not None and prev_until is not None
                       and prev_until <= t1_us)
        if incremental and prev_until == t1_us:
            merged, mode = old, "noop"
        elif incremental:
            w0_us = prev_until - (rule.k() - 1) * step_us
            new = evaluate_rule(spark, store, rule, t1,
                                t0=_ts_str(w0_us), min_n=1)
            merged = _merge_incremental(spark, old, new, rule, w0_us)
            mode = "incremental"
        else:
            # absent rules always re-evaluate their full history: the
            # grid anchors on each series' FIRST observed bucket, so a
            # t0-scoped window would silently drop open absences of
            # series that died before the window; the full pass reads
            # only tier rows and is bounded by retention.
            # A CHANGED rule definition likewise forces the full
            # history regardless of the caller's t0: the documented
            # invariant is that a new fingerprint invalidates the
            # ledger, so episodes recorded under the old definition
            # must not survive stamped with the new one
            # (recording.refresh_recording forces t0=None the same
            # way)
            rule_t0 = None if (rule.mode == "absent"
                               or not same_rule) else t0
            # warmup derives from the EFFECTIVE window start: when the
            # rebuild was forced to full history (rule_t0=None), a
            # warmup bound computed from the caller's t0 would silently
            # truncate a zscore/seasonal scan to [warmup_t0, t1)
            new = evaluate_rule(spark, store, rule, t1, t0=rule_t0,
                                warmup_t0=_rebuild_warmup_t0(rule, rule_t0))
            if rule_t0 is not None and old is not None:
                # WINDOW rebuild, not a wipe: episodes that ended
                # before the window keep their recorded history;
                # episodes overlapping it are replaced by the
                # window-local derivation (one crossing t0 re-derives
                # with its start truncated to the window edge — the
                # documented cost of a scoped rebuild)
                cut = F.timestamp_micros(
                    F.lit(_floor_step_us(t0, step_us)))
                merged = old.filter(F.col("last_breach_at") < cut) \
                    .unionByName(new.select(*EPISODE_COLS))
            else:
                merged = new
            mode = "full"
        if mode != "noop":
            ledger.write(
                merged, rule.name,
                {"fingerprint": rule.fingerprint(),
                 "evaluated_until_us": t1_us,
                 "rule_name": rule.name})
        final = ledger.read(spark, rule.name)
        counts = final.agg(
            F.count("*").alias("n"),
            F.sum(F.when(~F.col("resolved"), 1).otherwise(0)).alias("open")
        ).first()
        report[rule.name] = {"mode": mode, "episodes": counts["n"],
                             "open": int(counts["open"] or 0)}
    return report

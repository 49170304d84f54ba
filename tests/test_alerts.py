"""Alert-rule evaluation: episodes vs a pandas state-machine oracle,
for-duration semantics, and the ledger's incremental ≡ single-shot
invariant swept across split points (including mid-episode splits)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mimir_spark.alerts import (AlertLedger, AlertRule, breach_episodes,
                                evaluate_rule, run_alert_job)
from mimir_spark.lineage import TieredStore, run_rollup_job
from mimir_spark.read_path import query_range

SERIES = ["kind", "series_key", "metric"]
EP_KEY = SERIES + ["started_at"]
H = 3_600_000_000  # 1h in us


@pytest.fixture(scope="module")
def store(spark, t_small_df, tmp_path_factory):
    d = tmp_path_factory.mktemp("alerts")
    s = TieredStore(d / "store")
    run_rollup_job(spark, lambda: t_small_df, s, "al", num_partitions=3)
    return s


def oracle_episodes(served: pd.DataFrame, op: str, threshold: float,
                    k: int, step_us: int,
                    eval_until_us: int) -> pd.DataFrame:
    """Per-series state machine over served buckets — the independent
    oracle for breach_episodes."""
    import operator

    ops = {">": operator.gt, ">=": operator.ge,
           "<": operator.lt, "<=": operator.le}
    last_eval = eval_until_us // step_us - 1
    rows = []
    for key, g in served.groupby(SERIES):
        g = g.sort_values("bucket_ts")
        run: list[tuple[int, float, float]] = []

        def flush(run):
            if len(run) >= k:
                idxs = [i for i, _, _ in run]
                vals = [v for _, v, _ in run]
                sigs = [s for _, _, s in run]
                pick = min if op in ("<", "<=") else max
                rows.append({
                    "kind": key[0], "series_key": key[1],
                    "metric": key[2],
                    "started_at": pd.Timestamp(idxs[0] * step_us * 1000),
                    "fired_at": pd.Timestamp(
                        (idxs[0] + k - 1) * step_us * 1000),
                    "last_breach_at": pd.Timestamp(
                        idxs[-1] * step_us * 1000),
                    "n_breach": len(run),
                    "peak_value": pick(vals),
                    "peak_signal": pick(sigs),
                    "resolved": idxs[-1] < last_eval,
                })

        for _, r in g.iterrows():
            idx = int(r["bucket_ts"].value // 1000) // step_us
            if idx > last_eval:
                continue
            sig = r.get("signal", r["value"])
            if ops[op](sig, threshold):
                if run and idx != run[-1][0] + 1:
                    flush(run)
                    run = []
                run.append((idx, r["value"], sig))
            else:
                flush(run)
                run = []
        flush(run)
    cols = ["kind", "series_key", "metric", "started_at", "fired_at",
            "last_breach_at", "n_breach", "peak_value", "peak_signal",
            "resolved"]
    return pd.DataFrame(rows, columns=cols)


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(EP_KEY, kind="mergesort").reset_index(
        drop=True)


def assert_episodes_equal(got, want):
    pd.testing.assert_frame_equal(canon(got), canon(want),
                                  check_dtype=False)


# ---------------------------------------------------------------------------
# core derivation vs oracle (on the real store)


def _rule(**kw):
    base = dict(name="r", metric="token_volume", agg="sum", step="1h",
                op=">", threshold=100.0, for_="3h", kind="tool")
    base.update(kw)
    return AlertRule(**base)


def _eval_until_us(t1: str, step_us=H) -> int:
    us = int(pd.Timestamp(t1).value // 1000)
    return us - us % step_us


T1 = "2026-03-01"


def test_threshold_episodes_match_oracle(spark, store):
    rule = _rule()
    served = query_range(spark, store, rule.metric, agg=rule.agg,
                         step=rule.step, kind=rule.kind).toPandas()
    served["signal"] = served["value"]
    want = oracle_episodes(served, rule.op, rule.threshold, rule.k(),
                           H, _eval_until_us(T1))
    got = evaluate_rule(spark, store, rule, t1=T1).toPandas()
    assert len(want) > 0
    assert_episodes_equal(got, want)


def test_for_one_fires_every_breach_run(spark, store):
    rule = _rule(for_=None, threshold=150.0)
    served = query_range(spark, store, rule.metric, agg=rule.agg,
                         step=rule.step, kind=rule.kind).toPandas()
    served["signal"] = served["value"]
    want = oracle_episodes(served, rule.op, rule.threshold, 1, H,
                           _eval_until_us(T1))
    got = evaluate_rule(spark, store, rule, t1=T1).toPandas()
    assert len(want) > len(
        oracle_episodes(served, rule.op, rule.threshold, 3, H,
                        _eval_until_us(T1)))
    assert_episodes_equal(got, want)


def test_less_than_rule_uses_min_extreme(spark, store):
    rule = _rule(op="<", threshold=50.0, for_=None)
    served = query_range(spark, store, rule.metric, agg=rule.agg,
                         step=rule.step, kind=rule.kind).toPandas()
    served["signal"] = served["value"]
    want = oracle_episodes(served, "<", 50.0, 1, H, _eval_until_us(T1))
    got = evaluate_rule(spark, store, rule, t1=T1).toPandas()
    assert len(want) > 0
    assert_episodes_equal(got, want)


# ---------------------------------------------------------------------------
# grid semantics on synthetic served frames (fast, no store)


def _served_df(spark, idx_vals: dict[int, float], key="s1"):
    rows = [("k", key, "m",
             pd.Timestamp(i * H * 1000).to_pydatetime(), float(v),
             float(v))
            for i, v in sorted(idx_vals.items())]
    return spark.createDataFrame(
        rows, "kind string, series_key string, metric string, "
              "bucket_ts timestamp, value double, signal double")


def test_missing_bucket_breaks_run(spark):
    # breaches at hours 0,1,2 then a MISSING hour 3, then 4,5:
    # with for=3h only the first run fires
    served = _served_df(spark, {0: 9, 1: 9, 2: 9, 4: 9, 5: 9})
    got = breach_episodes(served, ">", 1.0, k=3, step_us=H,
                          eval_until_us=10 * H).toPandas()
    assert len(got) == 1
    assert got.loc[0, "n_breach"] == 3
    assert got.loc[0, "started_at"] == pd.Timestamp(0)
    assert got.loc[0, "fired_at"] == pd.Timestamp(2 * H * 1000)
    assert bool(got.loc[0, "resolved"])


def test_non_breaching_bucket_breaks_run(spark):
    served = _served_df(spark, {0: 9, 1: 9, 2: 0.5, 3: 9, 4: 9, 5: 9})
    got = breach_episodes(served, ">", 1.0, k=3, step_us=H,
                          eval_until_us=6 * H).toPandas()
    assert len(got) == 1
    assert got.loc[0, "started_at"] == pd.Timestamp(3 * H * 1000)
    assert not bool(got.loc[0, "resolved"])  # touches the last bucket


def test_pending_run_is_not_an_episode(spark):
    served = _served_df(spark, {0: 9, 1: 9})
    got = breach_episodes(served, ">", 1.0, k=3, step_us=H,
                          eval_until_us=6 * H)
    assert got.count() == 0


# ---------------------------------------------------------------------------
# ledger: incremental ≡ single-shot, idempotence, rebuild triggers


def _ledger_frame(spark, ledger, name):
    return ledger.read(spark, name).toPandas()


def test_incremental_equals_single_shot(spark, store, tmp_path):
    """The signature invariant: evaluate to a split point, then to the
    end, and the ledger must equal a single-shot evaluation — swept
    over splits chosen to land INSIDE episodes (started+1, fired, and
    one step past last_breach) and in quiet zones."""
    rule = _rule()
    single = evaluate_rule(spark, store, rule, t1=T1).toPandas()
    assert len(single) >= 2
    ep = single.sort_values("started_at").iloc[0]
    splits = [
        str(ep["started_at"] + pd.Timedelta(hours=1)),  # mid-pending
        str(ep["fired_at"]),                            # at fire point
        str(ep["last_breach_at"] + pd.Timedelta(hours=1)),  # just ended
        str(ep["last_breach_at"] + pd.Timedelta(days=2)),   # quiet
    ]
    for i, split in enumerate(splits):
        ledger = AlertLedger(tmp_path / f"led{i}")
        r1 = run_alert_job(spark, store, [rule], ledger, t1=split)
        r2 = run_alert_job(spark, store, [rule], ledger, t1=T1)
        assert r2[rule.name]["mode"] == "incremental", split
        got = _ledger_frame(spark, ledger, rule.name)
        assert_episodes_equal(got, single), split
        # and the high-water mark advanced
        assert ledger.meta(rule.name)["evaluated_until_us"] == \
            _eval_until_us(T1)
    assert r1[rule.name]["mode"] == "full"


def test_incremental_open_episode_extends(spark, store, tmp_path):
    """Split INSIDE a fired episode leaves it open (resolved=false);
    the next run must EXTEND the same episode (same started_at), not
    duplicate it."""
    rule = _rule()
    single = evaluate_rule(spark, store, rule, t1=T1).toPandas()
    ep = single.sort_values("n_breach").iloc[-1]
    assert ep["n_breach"] > rule.k()
    split = str(ep["fired_at"] + pd.Timedelta(hours=1))
    ledger = AlertLedger(tmp_path / "led-open")
    run_alert_job(spark, store, [rule], ledger, t1=split)
    mid = _ledger_frame(spark, ledger, rule.name)
    open_mid = mid[(mid.series_key == ep["series_key"])
                   & (mid.started_at == ep["started_at"])]
    assert len(open_mid) == 1 and not bool(open_mid.iloc[0]["resolved"])
    run_alert_job(spark, store, [rule], ledger, t1=T1)
    assert_episodes_equal(_ledger_frame(spark, ledger, rule.name),
                          single)


def test_rerun_same_t1_is_noop(spark, store, tmp_path):
    rule = _rule()
    ledger = AlertLedger(tmp_path / "led")
    run_alert_job(spark, store, [rule], ledger, t1=T1)
    before = _ledger_frame(spark, ledger, rule.name)
    rep = run_alert_job(spark, store, [rule], ledger, t1=T1)
    assert rep[rule.name]["mode"] == "noop"
    assert_episodes_equal(_ledger_frame(spark, ledger, rule.name),
                          before)


def test_changed_rule_rebuilds(spark, store, tmp_path):
    ledger = AlertLedger(tmp_path / "led")
    run_alert_job(spark, store, [_rule()], ledger, t1=T1)
    rep = run_alert_job(spark, store,
                        [_rule(threshold=150.0)], ledger, t1=T1)
    assert rep["r"]["mode"] == "full"
    want = evaluate_rule(spark, store, _rule(threshold=150.0),
                         t1=T1).toPandas()
    assert_episodes_equal(_ledger_frame(spark, ledger, "r"), want)


def test_open_alerts_view(spark, store, tmp_path):
    """Trailing-absence episodes stay open and surface in the pager
    view tagged with their rule name."""
    rule = AlertRule(name="died", metric="turn_rate", mode="absent",
                     step="1h", for_="6h", kind="conv")
    served = query_range(spark, store, "turn_rate", agg="count",
                         step="1h", kind="conv")
    t1 = str(pd.Timestamp(
        served.agg(F.max("bucket_ts")).first()[0])
        + pd.Timedelta(hours=1))
    ledger = AlertLedger(tmp_path / "led")
    rep = run_alert_job(spark, store, [rule], ledger, t1=t1)
    assert rep["died"]["open"] > 0
    view = ledger.open_alerts(spark).toPandas()
    assert set(view["rule"]) == {"died"}
    assert (~view["resolved"]).all()
    # every open episode's run touches the last evaluated bucket
    last_eval = pd.Timestamp(
        (_eval_until_us(t1) // H - 1) * H * 1000)
    assert (view["last_breach_at"] == last_eval).all()


# ---------------------------------------------------------------------------
# absent + zscore modes vs oracles


def test_absent_episodes_match_grid_oracle(spark, store):
    rule = AlertRule(name="gap", metric="turn_rate", mode="absent",
                     step="1h", for_="4h", kind="conv")
    t1 = "2026-03-01"
    served = query_range(spark, store, "turn_rate", agg="count",
                         step="1h", kind="conv").toPandas()
    eval_until = _eval_until_us(t1)
    last_eval = eval_until // H - 1
    rows = []
    for key, g in served.groupby(SERIES):
        have = {int(t.value // 1000) // H for t in g["bucket_ts"]
                if int(t.value // 1000) // H <= last_eval}
        if not have:
            continue
        lo = min(have)
        miss = sorted(set(range(lo, last_eval + 1)) - have)
        run = []
        for i in miss + [None]:
            if i is not None and (not run or i == run[-1] + 1):
                run.append(i)
                continue
            if len(run) >= rule.k():
                rows.append({
                    "kind": key[0], "series_key": key[1],
                    "metric": key[2],
                    "started_at": pd.Timestamp(run[0] * H * 1000),
                    "fired_at": pd.Timestamp(
                        (run[0] + rule.k() - 1) * H * 1000),
                    "last_breach_at": pd.Timestamp(run[-1] * H * 1000),
                    "n_breach": len(run),
                    "peak_value": np.nan, "peak_signal": np.nan,
                    "resolved": run[-1] < last_eval})
            run = [i] if i is not None else []
    want = pd.DataFrame(rows)
    got = evaluate_rule(spark, store, rule, t1=t1).toPandas()
    assert len(want) > 0
    assert_episodes_equal(got, want)


def test_zscore_rule_matches_anomaly_verb(spark, store):
    """A zscore rule's breaching buckets are exactly the anomalies
    detect_anomalies reports (same baseline, same threshold); episodes
    group them by grid contiguity."""
    from mimir_spark.functions.timeseries import with_zscore

    rule = _rule(mode="zscore", threshold=2.0, window=8, for_=None,
                 agg="avg")
    served = query_range(spark, store, rule.metric, agg="avg",
                         step="1h", kind="tool")
    zs = with_zscore(served, value_col="value", n=8,
                     time_col="bucket_ts").toPandas()
    zs = zs[zs["zscore"].notna()].copy()
    zs["signal"] = zs["zscore"].abs()
    want = oracle_episodes(zs, ">", 2.0, 1, H, _eval_until_us(T1))
    got = evaluate_rule(spark, store, rule, t1=T1).toPandas()
    assert len(want) > 0
    assert_episodes_equal(got, want)


# ---------------------------------------------------------------------------
# validation


def test_rule_validation():
    with pytest.raises(ValueError, match="unknown op"):
        _rule(op="!=")
    with pytest.raises(ValueError, match="not a multiple"):
        _rule(for_="90m")
    with pytest.raises(ValueError, match="threshold required"):
        AlertRule(name="x", metric="m")
    with pytest.raises(ValueError, match="requires period"):
        _rule(mode="seasonal")
    with pytest.raises(ValueError, match="divide period"):
        _rule(mode="seasonal", period="90m")
    with pytest.raises(ValueError, match="unknown mode"):
        _rule(mode="nope")


def test_load_rules_roundtrip(tmp_path):
    from mimir_spark.alerts import load_rules

    p = tmp_path / "rules.json"
    p.write_text('[{"name": "a", "metric": "token_volume", '
                 '"op": ">", "threshold": 10, "for": "2h"},'
                 ' {"name": "b", "metric": "turn_rate", '
                 '"mode": "absent", "for": "6h"}]')
    rules = load_rules(p)
    assert [r.name for r in rules] == ["a", "b"]
    assert rules[0].k() == 2 and rules[0].for_ == "2h"
    p.write_text('[{"name": "a", "metric": "m", "threshold": 1},'
                 ' {"name": "a", "metric": "m", "threshold": 2}]')
    with pytest.raises(ValueError, match="duplicate"):
        load_rules(p)


# ---------------------------------------------------------------------------
# plan + CLI


def test_threshold_evaluation_plan_shape(spark, store):
    """The threshold signal reads ONE pruned tier scan (bucket_date
    partition filters), runs no Python, and needs only two Exchanges
    (step re-agg + the per-series island window)."""
    df = evaluate_rule(spark, store, _rule(), t1=T1, t0="2026-01-06")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "PartitionFilters: [" in plan and "bucket_date" in plan
    assert not any(x in plan for x in
                   ("BatchEvalPython", "ArrowEvalPython",
                    "MapInPandas", "FlatMapGroupsInPandas"))
    assert plan.count("Exchange") <= 3


def test_alert_job_cli(spark, store, tmp_path):
    import json as _json
    import sys

    sys.path.insert(0, "jobs")
    try:
        import alert_job
    finally:
        sys.path.pop(0)

    rules = [{"name": "vol", "metric": "token_volume", "agg": "sum",
              "step": "1h", "op": ">", "threshold": 100,
              "for": "3h", "kind": "tool"}]
    rp = tmp_path / "rules.json"
    rp.write_text(_json.dumps(rules))
    led = tmp_path / "ledger"
    assert alert_job.main(["--store", str(store.root), "--rules",
                           str(rp), "--ledger", str(led),
                           "--t1", T1]) == 0
    ledger = AlertLedger(led)
    got = ledger.read(spark, "vol").toPandas()
    want = evaluate_rule(spark, store, _rule(name="vol"),
                         t1=T1).toPandas()
    assert_episodes_equal(got, want)
    # status verb runs on the written ledger
    assert alert_job.main(["--store", str(store.root), "--ledger",
                           str(led), "--status"]) == 0


# ---------------------------------------------------------------------------
# review-pass regressions: durability, window rebuilds, name hygiene


def test_torn_ledger_write_rebuilds_full_history(spark, store, tmp_path):
    """A meta sidecar whose directory vanished (crash between the
    swap's renames) must trigger a full-history rebuild, not an
    incremental resume that forgets everything before W0."""
    import shutil as _sh

    rule = _rule()
    ledger = AlertLedger(tmp_path / "led")
    run_alert_job(spark, store, [rule], ledger, t1=T1)
    want = _ledger_frame(spark, ledger, rule.name)
    _sh.rmtree(ledger.rule_dir(rule.name))  # simulate the torn write
    assert ledger.meta(rule.name) is not None  # stale meta survives
    rep = run_alert_job(spark, store, [rule], ledger, t1=T1)
    assert rep[rule.name]["mode"] == "full"
    assert_episodes_equal(_ledger_frame(spark, ledger, rule.name), want)


def test_t0_window_rebuild_preserves_history(spark, store, tmp_path):
    """--t0 re-evaluates a window; episodes that ENDED before it keep
    their recorded history instead of being wiped."""
    rule = _rule()
    ledger = AlertLedger(tmp_path / "led")
    run_alert_job(spark, store, [rule], ledger, t1=T1)
    before = _ledger_frame(spark, ledger, rule.name)
    cut = before["last_breach_at"].sort_values().iloc[len(before) // 2] \
        + pd.Timedelta(hours=1)
    rep = run_alert_job(spark, store, [rule], ledger, t1=T1,
                        t0=str(cut))
    assert rep[rule.name]["mode"] == "full"
    after = _ledger_frame(spark, ledger, rule.name)
    old_kept = before[before["last_breach_at"] < cut]
    assert len(old_kept) > 0
    assert_episodes_equal(
        after[after["last_breach_at"] < cut], old_kept)
    # episodes fully inside the window re-derive identically here
    # (no crossing at this cut on the fixture would truncate)
    assert len(after) == len(before)


def test_zscore_t0_rebuild_warms_baseline(spark, store, tmp_path):
    """A --t0 rebuild of a zscore rule reads warmup buckets before t0
    so in-window episodes match the full-history evaluation."""
    rule = _rule(mode="zscore", threshold=2.0, window=8, for_=None,
                 agg="avg")
    full = evaluate_rule(spark, store, rule, t1=T1).toPandas()
    assert len(full) > 0
    t0 = str(full["started_at"].min())  # window starts at first episode
    ledger = AlertLedger(tmp_path / "led")
    rep = run_alert_job(spark, store, [rule], ledger, t1=T1, t0=t0)
    assert rep[rule.name]["mode"] == "full"
    got = _ledger_frame(spark, ledger, rule.name)
    cut = pd.Timestamp(t0)
    assert_episodes_equal(got, full[full["started_at"] >= cut])


def test_dotted_rule_names_keep_separate_meta(spark, store, tmp_path):
    """Prometheus-style dotted names must not collide on the meta
    sidecar path (Path.with_suffix would strip '.p99')."""
    ledger = AlertLedger(tmp_path / "led")
    rules = [_rule(name="api.p99", threshold=100.0),
             _rule(name="api.p50", threshold=150.0)]
    run_alert_job(spark, store, rules, ledger, t1=T1)
    m99, m50 = ledger.meta("api.p99"), ledger.meta("api.p50")
    assert m99["rule_name"] == "api.p99"
    assert m50["rule_name"] == "api.p50"
    assert m99["fingerprint"] != m50["fingerprint"]
    rep = run_alert_job(spark, store, rules, ledger, t1=T1)
    assert {r["mode"] for r in rep.values()} == {"noop"}


def test_absent_rule_ignores_t0_window(spark, store, tmp_path):
    """--t0 must not scope an absent rule: its grid anchors on each
    series' first observed bucket, so a window would drop open
    absences of series that died before it. The rule re-evaluates its
    full history instead."""
    rule = AlertRule(name="died", metric="turn_rate", mode="absent",
                     step="1h", for_="6h", kind="conv")
    ledger = AlertLedger(tmp_path / "led")
    run_alert_job(spark, store, [rule], ledger, t1=T1)
    want = _ledger_frame(spark, ledger, rule.name)
    rep = run_alert_job(spark, store, [rule], ledger, t1=T1,
                        t0="2026-02-01")
    assert rep[rule.name]["mode"] == "full"
    assert_episodes_equal(_ledger_frame(spark, ledger, rule.name), want)


def test_changed_rule_with_t0_still_rebuilds_full_history(
        spark, store, tmp_path):
    """A changed fingerprint invalidates the ledger even when the
    caller passes an explicit --t0: episodes recorded under the OLD
    definition must not survive stamped with the new one (r6 advice
    fix — recording.refresh_recording already forced this)."""
    ledger = AlertLedger(tmp_path / "led")
    run_alert_job(spark, store, [_rule()], ledger, t1=T1)
    new_rule = _rule(threshold=150.0)
    rep = run_alert_job(spark, store, [new_rule], ledger, t1=T1,
                        t0="2026-01-07")
    assert rep["r"]["mode"] == "full"
    want = evaluate_rule(spark, store, new_rule, t1=T1).toPandas()
    assert_episodes_equal(_ledger_frame(spark, ledger, "r"), want)


def test_stale_t1_refused_instead_of_regressing_ledger(
        spark, store, tmp_path):
    """A t1 behind the ledger's evaluated_until high-water mark must
    refuse, not silently rebuild truncated history (r6 advice fix)."""
    rule = _rule()
    ledger = AlertLedger(tmp_path / "led")
    run_alert_job(spark, store, [rule], ledger, t1=T1)
    before = _ledger_frame(spark, ledger, rule.name)
    with pytest.raises(ValueError, match="high-water"):
        run_alert_job(spark, store, [rule], ledger, t1="2026-01-07")
    assert_episodes_equal(_ledger_frame(spark, ledger, rule.name),
                          before)


def test_histogram_ignores_null_values(spark, t_small_df):
    """NULL point values must not bin as zeros (r6 advice fix)."""
    from mimir_spark.histogram import rollup_histogram
    from mimir_spark.ingest import ingest, turn_metrics

    pts = turn_metrics(ingest(t_small_df))
    with_nulls = pts.unionByName(
        pts.limit(50).withColumn("v", F.lit(None).cast("double")))
    a = rollup_histogram(pts, "1h").toPandas()
    b = rollup_histogram(with_nulls, "1h").toPandas()
    key = ["kind", "series_key", "metric", "bucket_ts"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert (a["cnt"] == b["cnt"]).all()
    assert (a["zero_cnt"] == b["zero_cnt"]).all()


def test_changed_zscore_rule_rebuild_covers_full_history(
        spark, store, tmp_path):
    """A changed zscore rule + explicit --t0 must rebuild the FULL
    history, including a warmup bound derived from the effective
    (None) window start — not from the caller's t0 (review finding:
    warmup_t0 was silently truncating the forced full rebuild)."""
    rule = _rule(mode="zscore", threshold=2.0, window=8, for_=None,
                 agg="avg")
    ledger = AlertLedger(tmp_path / "led")
    run_alert_job(spark, store, [rule], ledger, t1=T1)
    changed = _rule(mode="zscore", threshold=2.5, window=8, for_=None,
                    agg="avg")
    full = evaluate_rule(spark, store, changed, t1=T1).toPandas()
    # t0 chosen PAST the first episodes so a t0-scoped scan would
    # provably lose history
    assert len(full) > 0
    t0 = str(full["started_at"].max())
    rep = run_alert_job(spark, store, [changed], ledger, t1=T1, t0=t0)
    assert rep["r"]["mode"] == "full"
    assert_episodes_equal(_ledger_frame(spark, ledger, "r"), full)


def test_stale_rule_refuses_the_whole_job_before_writing(
        spark, store, tmp_path):
    """One stale rule in a multi-rule job must refuse the job before
    any rule is evaluated: a rule earlier in the list must not commit
    its ledger while a later one raises."""
    fresh, stale = _rule(name="fresh"), _rule(name="stale")
    ledger = AlertLedger(tmp_path / "led")
    run_alert_job(spark, store, [fresh], ledger, t1="2026-01-07")
    run_alert_job(spark, store, [stale], ledger, t1=T1)

    def snapshot():
        files = [ledger._meta_path(fresh.name),
                 *sorted(ledger.rule_dir(fresh.name).rglob("*"))]
        return {str(p): p.read_bytes() for p in files if p.is_file()}

    before = snapshot()
    with pytest.raises(ValueError, match="'stale'.*high-water"):
        run_alert_job(spark, store, [fresh, stale], ledger,
                      t1="2026-02-01")
    assert snapshot() == before

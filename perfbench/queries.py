"""The dashboard query mix: families, seeded parameters, references.

Each family is one public read function of the engine. Its reference
answer is computed with pandas from the reference points (see
``oracle``), so a family's first answer is checked against a
formulation that shares no code with the engine's read path.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

from oracle import TIER_US, aggregate, diff_rows

DAY_US = TIER_US["1d"]
HIST_ALPHA = 0.01  # histogram.DEFAULT_ALPHA, the tier the nightly writes


def _us(x) -> int:
    """Collected timestamp -> epoch us (the process runs in UTC)."""
    return int(pd.Timestamp(x).value // 1000)


def _day_bounds(day: str) -> tuple[str, str, int]:
    d = dt.date.fromisoformat(day)
    lo = int(pd.Timestamp(day).value // 1000)
    return day, (d + dt.timedelta(days=1)).isoformat(), lo


def _sel(pts, lo, kind, metric, series_key=None):
    m = ((pts["ts"] >= lo) & (pts["ts"] < lo + DAY_US)
         & (pts["kind"] == kind) & (pts["metric"] == metric))
    if series_key is not None:
        m &= pts["series_key"] == series_key
    return pts[m]


def _frame(rows, cols) -> pd.DataFrame:
    df = pd.DataFrame([r.asDict() for r in rows], columns=cols)
    for c in ("bucket_ts", "ts", "started_at", "fired_at", "last_breach_at"):
        if c in df:
            df[c] = [_us(x) for x in df[c]]
    return df


def _agg_value(pts, unit_us, agg):
    a = aggregate(pts, unit_us, chunks=False)
    a["value"] = a["sum_v"] if agg == "sum" else a["sum_v"] / a["cnt"]
    return a.rename(columns={"bucket": "bucket_ts"})


K = ["kind", "series_key", "metric", "bucket_ts"]


def _exact(cols):
    def check(rows, want):
        got = _frame(rows, K + cols)
        return diff_rows(got, want, K, cols) == 0
    return check


# -- references --------------------------------------------------------

def ref_range(pts, p):
    return _agg_value(_sel(pts, p["lo"], "tool", "token_volume"),
                      TIER_US["1h"], "sum")


def ref_point(pts, p):
    return _agg_value(_sel(pts, p["lo"], "conv", "token_volume", p["conv"]),
                      TIER_US["1m"], "sum")


def ref_locf(pts, p):
    a = _agg_value(_sel(pts, p["lo"], "conv", "token_volume", p["conv"]),
                   TIER_US["1h"], "avg")
    step = TIER_US["1h"]
    grid = np.arange(a["bucket_ts"].min(), a["bucket_ts"].max() + 1, step)
    out = pd.DataFrame({"bucket_ts": grid}).merge(
        a[["bucket_ts", "value"]], on="bucket_ts", how="left")
    out["filled"] = out["value"].isna()
    out["value"] = out["value"].ffill()
    return out.assign(kind="conv", series_key=p["conv"], metric="token_volume")


def ref_series_points(pts, p):
    s = _sel(pts, p["lo"], "conv", "token_volume", p["conv"])
    return sorted(zip(s["ts"].tolist(), s["v"].tolist()))


def check_series_points(rows, want):
    return sorted((_us(r["ts"]), r["v"]) for r in rows) == want


def _per_2h(pts):
    step = 2 * TIER_US["1h"]
    return pts.assign(bucket_ts=pts["ts"] - pts["ts"] % step).groupby(
        ["kind", "series_key", "metric", "bucket_ts"])


def ref_quantile(pts, p):
    g = _per_2h(_sel(pts, p["lo"], "tool", "token_volume"))
    return {k: np.sort(v.to_numpy()) for k, v in g["v"]}


def check_quantile(rows, want):
    if len(rows) != len(want):
        return False
    for r in rows:
        vals = want.get((r["kind"], r["series_key"], r["metric"],
                         _us(r["bucket_ts"])))
        if vals is None or r["cnt"] != len(vals):
            return False
        for name, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            x = vals[int(np.floor(q * (len(vals) - 1)))]
            if abs(r[name] - x) > HIST_ALPHA * abs(x) + 1e-9:
                return False
    return True


def ref_distinct(pts, p):
    g = _per_2h(_sel(pts, p["lo"], "tool", "turn_rate"))
    return {k: (len(v), v.nunique()) for k, v in g["conv_id"]}


def check_distinct(rows, want):
    if len(rows) != len(want):
        return False
    for r in rows:
        w = want.get((r["kind"], r["series_key"], r["metric"],
                      _us(r["bucket_ts"])))
        # HLL at lg_k=12: 1.6% standard error; allow 3 sigma
        if w is None or r["cnt"] != w[0] or \
                abs(r["n_distinct"] - w[1]) > max(2, 0.05 * w[1]):
            return False
    return True


def ref_topk(pts, p):
    s = _sel(pts, p["lo"], "conv", "token_volume").groupby(
        "series_key")["v"].sum().reset_index()
    s = s.sort_values(["v", "series_key"], ascending=[False, True]).head(5)
    return list(zip(s["series_key"], s["v"]))


def check_topk(rows, want):
    return [(r["series_key"], r["value"]) for r in rows] == want


def ref_alert(pts, p):
    a = ref_range(pts, p)
    step = TIER_US["1h"]
    b = a[a["value"] > p["threshold"]].copy()
    b["idx"] = b["bucket_ts"] // step
    b = b.sort_values(["series_key", "idx"])
    b["island"] = b["idx"] - b.groupby("series_key").cumcount()
    last_eval = (p["lo"] + DAY_US) // step - 1
    ep = b.groupby(["kind", "series_key", "metric", "island"]).agg(
        s=("idx", "min"), e=("idx", "max"), n_breach=("idx", "size"),
        peak_value=("value", "max")).reset_index()
    return sorted(
        (r.series_key, r.s * step, r.e * step, r.n_breach, r.peak_value,
         bool(r.e < last_eval)) for r in ep.itertuples())


def check_alert(rows, want):
    got = sorted((r["series_key"], _us(r["started_at"]),
                  _us(r["last_breach_at"]), r["n_breach"], r["peak_value"],
                  bool(r["resolved"])) for r in rows
                 if _us(r["started_at"]) == _us(r["fired_at"])
                 and r["peak_signal"] == r["peak_value"])
    return len(got) == len(rows) and got == want


# -- the mix -----------------------------------------------------------

@dataclass(frozen=True)
class Family:
    name: str            # span / layer name
    call: Callable       # (spark, store, params) -> DataFrame
    ref: Callable        # (points, params) -> reference
    check: Callable      # (collected rows, reference) -> bool


def families() -> list[Family]:
    from mimir_spark import alerts
    from mimir_spark import read_path as rp

    def alert(spark, store, p):
        rule = alerts.AlertRule(name="bench", metric="token_volume", op=">",
                                threshold=p["threshold"], agg="sum",
                                step="1h", kind="tool")
        return alerts.evaluate_rule(spark, store, rule, t1=p["t1"], t0=p["t0"])

    return [
        Family("read_path.query_range",
               lambda s, st, p: rp.query_range(
                   s, st, "token_volume", agg="sum", step="1h", t0=p["t0"],
                   t1=p["t1"], kind="tool"),
               ref_range, _exact(["value"])),
        Family("gapfill.query_range_locf",
               lambda s, st, p: rp.query_range(
                   s, st, "token_volume", agg="avg", step="1h", t0=p["t0"],
                   t1=p["t1"], kind="conv", series_key=p["conv"],
                   fill="locf"),
               ref_locf, _exact(["value", "filled"])),
        Family("read_path.query_range_point",
               lambda s, st, p: rp.query_range(
                   s, st, "token_volume", agg="sum", step="1m", tier="1m",
                   t0=p["t0"], t1=p["t1"], kind="conv",
                   series_key=p["conv"]),
               ref_point, _exact(["value"])),
        Family("read_path.series_points",
               lambda s, st, p: rp.series_points(
                   s, st, "1m", kind="conv", series_key=p["conv"],
                   metric="token_volume", t0=p["t0"], t1=p["t1"]),
               ref_series_points, check_series_points),
        Family("read_path.query_range_quantile",
               lambda s, st, p: rp.query_range_quantile(
                   s, st, "token_volume", step="2h", t0=p["t0"], t1=p["t1"],
                   kind="tool"),
               ref_quantile, check_quantile),
        Family("read_path.query_range_distinct",
               lambda s, st, p: rp.query_range_distinct(
                   s, st, "turn_rate", step="2h", t0=p["t0"], t1=p["t1"],
                   kind="tool"),
               ref_distinct, check_distinct),
        Family("read_path.query_topk_series",
               lambda s, st, p: rp.query_topk_series(
                   s, st, "token_volume", 5, agg="sum", t0=p["t0"],
                   t1=p["t1"], kind="conv"),
               ref_topk, check_topk),
        Family("alerts.evaluate_rule", alert, ref_alert, check_alert),
    ]


def draw_params(pts: pd.DataFrame, days: list[str], rng: np.random.Generator,
                n: int) -> list[dict]:
    """``n`` parameter sets: a day among the store's busy dates (at
    least half the busiest date's points, so no parameter set lands on
    the sparse tail of week-long conversations) and a conversation
    active on that day, drawn with the run's seed."""
    per_day = {d: len(_sel(pts, _day_bounds(d)[2], "conv", "turn_rate"))
               for d in days}
    days = [d for d in days if per_day[d] >= max(per_day.values()) / 2]
    out = []
    for _ in range(n):
        day = days[int(rng.integers(len(days)))]
        t0, t1, lo = _day_bounds(day)
        sel = _sel(pts, lo, "conv", "token_volume")
        convs = np.sort(sel["series_key"].unique())
        conv = str(convs[int(rng.integers(len(convs)))])
        hourly = ref_range(pts, {"lo": lo})["value"]
        thr = float(np.floor(np.quantile(hourly, 0.6))) + 0.5
        out.append({"t0": t0, "t1": t1, "lo": lo, "conv": conv,
                    "threshold": thr})
    return out

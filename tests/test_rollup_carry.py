"""The rollup mapInPandas bodies across Arrow batch boundaries.

Spark hands a partition to ``mapInPandas`` as a sequence of Arrow
batches (``arrow.maxRecordsPerBatch``), and a (series, day) group may
span any number of them. The Spark tests' partitions each fit in one
batch, so this drives ``_make_rollup_fn`` and ``_make_rollup_turns_fn``
directly with the same sorted frame fed whole and then re-batched:
the output must not depend on where the batch boundaries fall, chunk
bytes included. No SparkSession needed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mimir_spark import codec
from mimir_spark.rollup import (TIER_US, _make_rollup_fn,
                                _make_rollup_turns_fn, _whole_groups)

TIERS = ("1m", "1h", "1d")
DAY = TIER_US["1d"]
KEY = ["tier", "kind", "series_key", "metric", "bucket_ts"]
# longer than every batching below, so one (series, day) group spans
# many batches and whole batches hold nothing but its rows
HOT_ROWS = 40


def _ts(us):
    return pd.to_datetime(us, unit="us").astype("datetime64[ns]")


def _turns_frame(seed=3, n=300):
    rng = np.random.default_rng(seed)
    keys = rng.choice([f"c{i:02d}" for i in range(12)], n)
    ts = rng.integers(0, 3 * DAY, n)
    hot_ts = DAY + rng.integers(0, DAY, HOT_ROWS)
    df = pd.DataFrame({
        "series_key": np.concatenate([keys, np.full(HOT_ROWS, "hot")]),
        "ts_us": np.concatenate([ts, hot_ts]),
        "turn_idx": rng.integers(0, 4, n + HOT_ROWS),
    }).sort_values(["series_key", "ts_us", "turn_idx"], kind="mergesort")
    m = len(df)
    return pd.DataFrame({
        "series_key": df["series_key"].to_numpy(),
        "ts": _ts(df["ts_us"].to_numpy()),
        "role_code": rng.choice([-1, 2, 3, 4, 5], m).astype(np.int32),
        "tok": rng.integers(1, 900, m).astype(np.float64),
        "shard": np.array([sum(map(ord, k)) % 5
                           for k in df["series_key"]], dtype=np.int64),
    })


def _points_frame(seed=4, n=300):
    rng = np.random.default_rng(seed)
    df = pd.DataFrame({
        "kind": rng.choice(["conv", "tool"], n),
        "series_key": rng.choice(["a", "b", "c"], n),
        "metric": rng.choice(["turn_rate", "token_volume"], n),
        "ts_us": rng.integers(0, 3 * DAY, n),
        "conv_id": rng.choice(["x", "y"], n),
        "turn_idx": rng.integers(0, 4, n),
        "v": rng.random(n) * 100,
    })
    hot = pd.DataFrame({
        "kind": "tool", "series_key": "hot", "metric": "turn_rate",
        "ts_us": DAY + rng.integers(0, DAY, HOT_ROWS), "conv_id": "x",
        "turn_idx": np.arange(HOT_ROWS), "v": rng.random(HOT_ROWS)})
    df = pd.concat([df, hot], ignore_index=True).sort_values(
        ["kind", "series_key", "metric", "ts_us", "conv_id", "turn_idx"],
        kind="mergesort")
    return pd.DataFrame({
        "kind": df["kind"].to_numpy(),
        "series_key": df["series_key"].to_numpy(),
        "metric": df["metric"].to_numpy(),
        "ts": _ts(df["ts_us"].to_numpy()),
        "conv_id": df["conv_id"].to_numpy(),
        "turn_idx": df["turn_idx"].to_numpy(),
        "v": df["v"].to_numpy(),
    })


def _batches(df, size):
    if size is None:
        return [df]
    return [df.iloc[i:i + size].reset_index(drop=True)
            for i in range(0, len(df), size)]


def _run(fn, df, size):
    out = pd.concat(list(fn(iter(_batches(df, size)))), ignore_index=True)
    out["chunk"] = out["chunk"].map(bytes)
    return out.sort_values(KEY, kind="mergesort").reset_index(drop=True)


CASES = {
    "points": (_points_frame,
               lambda: _make_rollup_fn(TIERS)),
    "points_max_points": (_points_frame,
                          lambda: _make_rollup_fn(TIERS, max_points=6)),
    "turns_max_points": (_turns_frame,
                         lambda: _make_rollup_turns_fn(
                             TIERS, "conv", max_points=6)),
    "turns_shard": (_turns_frame,
                    lambda: _make_rollup_turns_fn(
                        TIERS, "conv", max_points=6, with_shard=True)),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_batching_does_not_change_output(case):
    make_df, make_fn = CASES[case]
    df = make_df()
    whole = _run(make_fn(), df, None)
    assert len(whole) > 0
    for size in (1, 7):
        pd.testing.assert_frame_equal(_run(make_fn(), df, size), whole)

    # the hot group is one row, and its chunk (max_points sub-chunks)
    # holds every hot point in order
    hot = whole[(whole["series_key"] == "hot") & (whole["tier"] == "1d")
                & (whole["metric"] == "turn_rate")]
    assert len(hot) == 1
    row = hot.iloc[0]
    ts, v = codec.decode_all(row["chunk"])
    assert len(ts) == row["cnt"] == HOT_ROWS
    assert (np.diff(ts) >= 0).all()
    assert v[-1] == row["last_v"]


@pytest.mark.parametrize("size", [1, 7, 1000])
def test_whole_groups_never_split_a_group(size):
    """Every emitted block holds whole (series, day) groups, and the
    blocks together hold every input row once, in input order."""
    df = _turns_frame()
    blocks = list(_whole_groups(iter(_batches(df, size)), DAY,
                                ["series_key"]))
    seen = set()
    for b in blocks:
        groups = set(zip(b["series_key"], b["ts"] // DAY))
        assert not groups & seen
        seen |= groups
    ts = np.concatenate([b["ts"] for b in blocks])
    expect = df["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    assert (ts == expect).all()
    assert (np.concatenate([b["series_key"] for b in blocks])
            == df["series_key"].to_numpy()).all()

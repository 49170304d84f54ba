"""Unit-level differential test of the sharded stateful chunk writer.

Drives _make_sharded_chunk_fn's handler through a simulated GroupState
across randomized batch/watermark sequences (hypothesis) and checks it
against a plain-numpy oracle implementing the contract:

- a point is DROPPED iff it arrives strictly older than the watermark
  current at its arrival batch;
- a (series, bucket) is EMITTED exactly once, at the first invocation
  whose watermark has passed the bucket end, carrying batch-writer
  aggregates and the batch writer's exact Gorilla chunk bytes over the
  surviving points in (ts, conv_id, turn_idx) order;
- state holds only open-bucket points and empties once everything is
  emitted.

The end-to-end stream tests (test_streaming.py) pin the same semantics
through real Spark but can only afford a couple of arrival scenarios;
this covers the edge lattice (exact-boundary closes, all-late batches,
timeout flushes with no data, interleaved series) at ~ms per case.
No SparkSession needed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mimir_spark import codec
from mimir_spark.rollup import TIER_US
from mimir_spark.streaming.rollup_stream import (
    _STREAM_METRICS, _append_stream_metrics, _make_sharded_chunk_fn,
    read_stream_metrics)

UNIT = TIER_US["1m"]


class FakeState:
    """The slice of pyspark's GroupState the handler uses."""

    def __init__(self):
        self._val = None
        self.wm_ms = 0
        self.timeout_ms = None

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, val):
        self._val = tuple(val)

    def remove(self):
        self._val = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _drive(batches, delay_us):
    """Feed batches through the handler with Spark's watermark rule
    (wm before batch k = max event time seen in batches < k minus the
    delay), then a terminal no-data invocation at the final watermark.
    Returns (emitted rows DataFrame, final state, terminal wm)."""
    fn = _make_sharded_chunk_fn(UNIT)
    state = FakeState()
    out, max_seen = [], None
    for pdf in batches:
        out.extend(fn((0,), iter([pdf]), state))
        if len(pdf):
            m = int(pdf["ts_us"].max())
            max_seen = m if max_seen is None else max(max_seen, m)
        if max_seen is not None:
            state.wm_ms = max(state.wm_ms,
                              max(0, (max_seen - delay_us)) // 1000)
    if state.exists:  # terminal no-data batch (timeout/AvailableNow end)
        out.extend(fn((0,), iter([]), state))
    emitted = (pd.concat(out, ignore_index=True) if out
               else pd.DataFrame(columns=[
                   "kind", "series_key", "metric", "bucket_ts", "cnt",
                   "sum_v", "min_v", "max_v", "last_v", "chunk"]))
    return emitted, state, state.wm_ms * 1000


def _oracle(batches, delay_us, terminal_wm_us):
    """Plain-python replay of the contract over the same batches."""
    survivors, wm_us, max_seen = [], 0, None
    for pdf in batches:
        for r in pdf.itertuples(index=False):
            if r.ts_us >= wm_us:
                survivors.append(r)
        if len(pdf):
            m = int(pdf["ts_us"].max())
            max_seen = m if max_seen is None else max(max_seen, m)
        if max_seen is not None:
            wm_us = max(wm_us, ((max(0, max_seen - delay_us)) // 1000)
                        * 1000)
    rows = {}
    keyf = lambda r: (r.kind, r.series_key, r.metric,  # noqa: E731
                      r.ts_us - r.ts_us % UNIT)
    for k in {keyf(r) for r in survivors}:
        if k[3] + UNIT > terminal_wm_us:
            continue  # still open at the end
        pts = sorted((r for r in survivors if keyf(r) == k),
                     key=lambda r: (r.ts_us, r.conv_id, r.turn_idx))
        ts = np.array([r.ts_us for r in pts], dtype=np.int64)
        v = np.array([r.v for r in pts], dtype=np.float64)
        rows[k] = {"cnt": len(pts), "sum_v": float(v.sum()),
                   "min_v": float(v.min()), "max_v": float(v.max()),
                   "last_v": float(v[-1]),
                   "chunk": codec.encode_chunk(ts, v)}
    return rows


@st.composite
def batch_plan(draw):
    n_series = draw(st.integers(1, 4))
    series = [("conv", f"c{i}", draw(st.sampled_from(
        ["turn_rate", "token_volume"]))) for i in range(n_series)]
    n_pts = draw(st.integers(1, 40))
    pts = []
    for j in range(n_pts):
        kind, skey, metric = draw(st.sampled_from(series))
        # several buckets around the origin; exact boundary values
        # (multiples of UNIT) are likely, exercising the <= close rule
        ts = draw(st.integers(0, 5 * UNIT))
        pts.append((kind, skey, metric, ts, f"c{j % 3}", j,
                    float(draw(st.integers(-5, 5)))))
    n_batches = draw(st.integers(1, 4))
    cuts = sorted(draw(st.lists(st.integers(0, n_pts), min_size=n_batches - 1,
                                max_size=n_batches - 1)))
    order = draw(st.permutations(range(n_pts)))
    cols = ["kind", "series_key", "metric", "ts_us", "conv_id",
            "turn_idx", "v"]
    batches, prev = [], 0
    for c in [*cuts, n_pts]:
        chunk = [pts[i] for i in order[prev:c]]
        batches.append(pd.DataFrame(chunk, columns=cols))
        prev = c
    delay_us = draw(st.sampled_from([0, UNIT // 2, UNIT, 3 * UNIT]))
    return batches, delay_us


@settings(max_examples=150, deadline=None)
@given(batch_plan())
def test_sharded_writer_matches_oracle(plan):
    batches, delay_us = plan
    emitted, state, terminal_wm = _drive(batches, delay_us)
    expected = _oracle(batches, delay_us, terminal_wm)

    got = {}
    for r in emitted.itertuples(index=False):
        k = (r.kind, r.series_key, r.metric,
             int(np.datetime64(r.bucket_ts, "us").astype(np.int64)))
        assert k not in got, f"bucket emitted twice: {k}"
        got[k] = r
    assert set(got) == set(expected)
    for k, e in expected.items():
        g = got[k]
        assert (g.cnt, g.sum_v, g.min_v, g.max_v, g.last_v) == \
            (e["cnt"], e["sum_v"], e["min_v"], e["max_v"], e["last_v"]), k
        assert bytes(g.chunk) == e["chunk"], k

    # state retains exactly the open buckets' points (or is gone)
    if state.exists:
        import pickle

        skey, ts, conv, tidx, v = pickle.loads(bytes(state.get[0]))
        assert ((ts - ts % UNIT) + UNIT > terminal_wm).all()
    # timeout is always scheduled strictly past the current watermark
    if state.exists:
        assert state.timeout_ms * 1000 > terminal_wm


def test_all_late_batch_drops_everything():
    """Rows strictly older than the arrival watermark vanish; the
    handler must not resurrect them from concatenation."""
    cols = ["kind", "series_key", "metric", "ts_us", "conv_id",
            "turn_idx", "v"]
    b1 = pd.DataFrame([("conv", "a", "turn_rate", 10 * UNIT, "c0", 0, 1.0)],
                      columns=cols)
    b2 = pd.DataFrame([("conv", "a", "turn_rate", 0, "c0", 1, 1.0)],
                      columns=cols)  # late: wm is 10*UNIT after b1
    emitted, state, _ = _drive([b1, b2], delay_us=0)
    # wm == max event time, so the on-time point's bucket is still
    # open (bucket end 11*UNIT > wm): nothing emitted, and the state
    # must hold ONLY the on-time point — the late one vanished
    assert len(emitted) == 0
    import pickle

    _, ts, _, _, _ = pickle.loads(bytes(state.get[0]))
    assert ts.tolist() == [10 * UNIT]


def test_timeout_invocation_closes_without_data():
    """A no-data invocation after the watermark passes must flush the
    buffered bucket (the event-time-timeout contract)."""
    cols = ["kind", "series_key", "metric", "ts_us", "conv_id",
            "turn_idx", "v"]
    fn = _make_sharded_chunk_fn(UNIT)
    state = FakeState()
    pdf = pd.DataFrame([("conv", "a", "turn_rate", 5, "c0", 0, 2.0)],
                       columns=cols)
    assert list(fn((0,), iter([pdf]), state)) == []  # bucket still open
    assert state.exists and state.timeout_ms == UNIT // 1000
    state.wm_ms = UNIT // 1000  # watermark reaches the bucket end
    out = list(fn((0,), iter([]), state))
    assert len(out) == 1 and out[0]["cnt"].iloc[0] == 1
    assert not state.exists


def test_exact_boundary_point_stays_open():
    """ts == watermark is ON TIME; bucket_end == watermark closes.
    Both rules pinned on the same invocation."""
    cols = ["kind", "series_key", "metric", "ts_us", "conv_id",
            "turn_idx", "v"]
    fn = _make_sharded_chunk_fn(UNIT)
    state = FakeState()
    state.wm_ms = UNIT // 1000
    pdf = pd.DataFrame([
        ("conv", "a", "turn_rate", UNIT - 1, "c0", 0, 1.0),  # late
        ("conv", "a", "turn_rate", UNIT, "c0", 1, 1.0),      # on time
    ], columns=cols)
    assert list(fn((0,), iter([pdf]), state)) == []
    import pickle

    _, ts, _, _, _ = pickle.loads(bytes(state.get[0]))
    assert ts.tolist() == [UNIT]  # the late row is gone


def test_valid_event_time_guard(spark, t_small, tmp_path):
    """Watermark-poisoning drill: ONE corrupt far-future row in an
    early micro-batch drags the watermark decades forward and the
    stream late-drops (almost) everything behind it; bounding event
    time with valid_event_time restores the unpoisoned output
    exactly. The guard is also checked to drop ONLY the out-of-range
    row."""
    import os
    import time as _time

    import numpy as np

    from mimir_spark.fixtures import TRANSCRIPT_SCHEMA
    from mimir_spark.streaming.rollup_stream import (
        streaming_rollup_chunks, valid_event_time)

    src = t_small.sort_values(["ts", "conv_id", "turn_idx"]) \
        .reset_index(drop=True)
    poison = src.iloc[[0]].copy()
    poison["ts"] = poison["ts"] + pd.Timedelta(days=365 * 30)
    poison["conv_id"] = "poisoned"
    hi = str(src["ts"].max())

    d_clean, d_bad = str(tmp_path / "clean"), str(tmp_path / "bad")
    for d, first in ((d_clean, src.iloc[:0]), (d_bad, poison)):
        os.makedirs(d)
        slices = [first, *(src.iloc[ix] for ix in
                           np.array_split(np.arange(len(src)), 3))]
        for i, sl in enumerate(slices):
            if len(sl) == 0:
                continue
            sl.to_parquet(f"{d}/{i:03d}.parquet", index=False,
                          coerce_timestamps="us",
                          allow_truncated_timestamps=True)
            _time.sleep(1.1)

    def run(d, name, guard):
        stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        if guard:
            stream = valid_event_time(stream, hi=hi)
        q = (streaming_rollup_chunks(stream, tier="1h", shards=4)
             .writeStream.outputMode("append")
             .format("memory").queryName(name).start())
        try:
            q.processAllAvailable()
            return (spark.sql(f"SELECT * FROM {name}").toPandas()
                    .sort_values(["kind", "series_key", "metric",
                                  "bucket_ts"]).reset_index(drop=True))
        finally:
            q.stop()

    baseline = run(d_clean, "vet_clean", guard=False)
    poisoned = run(d_bad, "vet_bad", guard=False)
    guarded = run(d_bad, "vet_guard", guard=True)

    assert len(baseline) > 0
    # the single bad row wipes out (almost) the whole stream
    assert len(poisoned) < len(baseline) / 2, \
        (len(poisoned), len(baseline))
    # the guard drops exactly the poison row: output == baseline
    pd.testing.assert_frame_equal(
        guarded.drop(columns=["chunk"]),
        baseline.drop(columns=["chunk"]), check_dtype=False)
    for a, b in zip(guarded["chunk"], baseline["chunk"]):
        assert bytes(a) == bytes(b)


def test_torn_metrics_line_is_ended_and_skipped(tmp_path):
    """A kill mid-append leaves a prefix of a line without its newline;
    the next append must start on a fresh line and the reader must skip
    the torn one, keeping every whole line."""
    _append_stream_metrics(tmp_path, "app", 0, "2024-01-01", {"rows_in": 3})
    path = tmp_path / _STREAM_METRICS
    whole = path.read_bytes()
    torn = whole[:20]
    path.write_bytes(whole + torn)
    _append_stream_metrics(tmp_path, "app", 1, "2024-01-01", {"rows_in": 5})
    assert path.read_bytes().startswith(whole + torn + b"\n")
    rows = read_stream_metrics(tmp_path)
    assert [(r["batch"], r["rows_in"]) for r in rows] == [(0, 3), (1, 5)]


if __name__ == "__main__":
    pytest.main([__file__, "-q"])

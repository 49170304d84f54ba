"""Codec tests: roundtrip identity, scalar-vs-vectorized byte equality,
multi-chunk consistency, batch decode ≡ per-chunk decode.

Mirrors the reference's posting-list write/read invariant testing
discipline (AtomicIndex.java:316-342 writes what the cluster view must
read back) as golden roundtrips + differential equivalence
(mimir-test/.../TestQueries.java:153-226 style).
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mimir_spark import codec


# ---------------------------------------------------------------------------
# scalar reference encoder (obviously-correct, byte-for-byte same spec)
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, value: int, nbits: int):
        for k in range(nbits - 1, -1, -1):
            self.bits.append((value >> k) & 1)

    def to_bytes(self) -> tuple[bytes, int]:
        nbits = len(self.bits)
        padded = self.bits + [0] * ((-nbits) % 8)
        out = bytearray()
        for i in range(0, len(padded), 8):
            b = 0
            for bit in padded[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out), nbits


def _u64(x: int) -> int:
    return x & ((1 << 64) - 1)


def scalar_encode_chunk(ts: np.ndarray, vals: np.ndarray) -> bytes:
    ts = [int(t) for t in ts]
    bits = [int(b) for b in np.asarray(vals, dtype=np.float64).view(np.uint64)]
    n = len(ts)

    tw = _BitWriter()
    if n >= 1:
        tw.write(_u64(ts[0]), 64)
    if n >= 2:
        delta = ts[1] - ts[0]
        tw.write(_u64(delta), 64)
        for i in range(2, n):
            d = ts[i] - ts[i - 1]
            dod = d - delta
            delta = d
            if dod == 0:
                tw.write(0b0, 1)
            elif -63 <= dod <= 64:
                tw.write(0b10, 2)
                tw.write(dod + 63, 7)
            elif -255 <= dod <= 256:
                tw.write(0b110, 3)
                tw.write(dod + 255, 9)
            elif -2047 <= dod <= 2048:
                tw.write(0b1110, 4)
                tw.write(dod + 2047, 12)
            else:
                tw.write(0b1111, 4)
                tw.write(_u64(dod), 64)

    vw = _BitWriter()
    prev_xor = 0
    for i in range(n):
        if i == 0:
            vw.write(bits[0], 64)
            continue
        xor = bits[i] ^ bits[i - 1]
        if xor == 0:
            vw.write(0b0, 1)
        else:
            lead = min(64 - xor.bit_length(), 31)
            trail = (xor & -xor).bit_length() - 1
            mlen = 64 - lead - trail
            if prev_xor != 0 and i >= 2:
                p_lead = min(64 - prev_xor.bit_length(), 31)
                p_trail = (prev_xor & -prev_xor).bit_length() - 1
                reusable = lead >= p_lead and trail >= p_trail
            else:
                reusable = False
            if reusable:
                p_mlen = 64 - p_lead - p_trail
                vw.write(0b10, 2)
                vw.write(xor >> p_trail, p_mlen)
            else:
                vw.write(0b11, 2)
                vw.write((lead << 6) | (mlen - 1), 11)
                vw.write(xor >> trail, mlen)
        prev_xor = xor

    t_buf, t_bits = tw.to_bytes()
    v_buf, v_bits = vw.to_bytes()
    header = struct.pack("<BBIII", codec.MAGIC, codec.VERSION, n, t_bits, v_bits)
    return header + t_buf + v_buf


# ---------------------------------------------------------------------------
# fixtures per FIXTURES.md §3: constants, monotone, NaN, ±inf, denormals,
# sign flips, epoch boundaries, single/two-point
# ---------------------------------------------------------------------------

EDGE_SERIES = {
    "empty": ([], []),
    "single": ([1_700_000_000_000_000], [3.25]),
    "two": ([0, 1], [0.0, -0.0]),
    "constant_vals": (list(range(0, 100_000_000, 1_000_000)), [42.0] * 100),
    "constant_delta": ([i * 60_000_000 for i in range(50)], [float(i) for i in range(50)]),
    "nan_inf": ([0, 1, 2, 3, 4, 5],
                [float("nan"), float("inf"), float("-inf"), 0.0, float("nan"), 1.0]),
    "denormal": ([0, 10, 20], [5e-324, -5e-324, 2.2250738585072014e-308]),
    "sign_flip": ([0, 1, 2, 3], [1.0, -1.0, 1.0, -1.0]),
    "epoch_boundary": ([-62135596800000000, 0, 253402300799999999], [1.0, 2.0, 3.0]),
    "big_dod": ([0, 1, 10_000_000_000, 10_000_000_001], [0.1, 0.2, 0.3, 0.4]),
    "negative_dod": ([0, 1000, 1500, 1600, 1601], [9.9, 8.8, 7.7, 6.6, 5.5]),
    "dup_ts": ([5, 5, 5, 6, 6], [1.0, 1.0, 2.0, 2.0, 3.0]),
}


def _as_arrays(ts, vals):
    return np.array(ts, dtype=np.int64), np.array(vals, dtype=np.float64)


def _bits_equal(a: np.ndarray, b: np.ndarray) -> bool:
    """float64 equality including NaN payloads and -0.0 vs 0.0."""
    return np.array_equal(np.asarray(a, np.float64).view(np.uint64),
                          np.asarray(b, np.float64).view(np.uint64))


@pytest.mark.parametrize("name", sorted(EDGE_SERIES))
def test_roundtrip_edges(name):
    ts, vals = _as_arrays(*EDGE_SERIES[name])
    buf = codec.encode_chunk(ts, vals)
    ts2, vals2 = codec.decode_chunk(buf)
    assert np.array_equal(ts, ts2)
    assert _bits_equal(vals, vals2)
    assert codec.chunk_n_points(buf) == len(ts)


@pytest.mark.parametrize("name", sorted(EDGE_SERIES))
def test_vectorized_matches_scalar(name):
    ts, vals = _as_arrays(*EDGE_SERIES[name])
    assert codec.encode_chunk(ts, vals) == scalar_encode_chunk(ts, vals)


def test_compression_ratio_on_regular_series():
    """Regular 1-minute cadence with slowly varying values must compress
    far below raw 16 bytes/point (the reason this codec exists)."""
    n = 10_000
    rng = np.random.default_rng(7)
    ts = np.arange(n, dtype=np.int64) * 60_000_000
    # representative rollup values: small integer counts, runs of repeats
    vals = rng.choice([0.0, 1.0, 2.0, 3.0, 5.0, 8.0], size=n,
                      p=[0.3, 0.3, 0.2, 0.1, 0.05, 0.05])
    buf = codec.encode_chunk(ts, vals)
    raw = 16 * n
    assert len(buf) < raw / 4, f"ratio only {raw/len(buf):.1f}x"


@given(
    st.lists(
        st.tuples(st.integers(-2**40, 2**40), st.floats(allow_nan=True, width=64)),
        min_size=0, max_size=200,
    )
)
@settings(max_examples=200, deadline=None)
def test_roundtrip_random(points):
    ts = np.array([p[0] for p in points], dtype=np.int64)
    vals = np.array([p[1] for p in points], dtype=np.float64)
    buf = codec.encode_chunk(ts, vals)
    assert buf == scalar_encode_chunk(ts, vals)
    ts2, vals2 = codec.decode_chunk(buf)
    assert np.array_equal(ts, ts2)
    assert _bits_equal(vals, vals2)


@given(st.data())
@settings(max_examples=50, deadline=None)
def test_encode_many_matches_per_group(data):
    n = data.draw(st.integers(0, 120))
    ts = np.cumsum(data.draw(
        st.lists(st.integers(0, 10**7), min_size=n, max_size=n))).astype(np.int64) \
        if n else np.zeros(0, np.int64)
    vals = np.array(data.draw(
        st.lists(st.floats(allow_nan=True, width=64), min_size=n, max_size=n)),
        dtype=np.float64) if n else np.zeros(0, np.float64)
    k = data.draw(st.integers(1, 8))
    cuts = sorted(data.draw(st.lists(st.integers(0, n), min_size=k - 1, max_size=k - 1)))
    starts = np.array([0] + cuts, dtype=np.int64)
    chunks = codec.encode_many(ts, vals, starts)
    ends = list(starts[1:]) + [n]
    assert len(chunks) == len(starts)
    for g, (s, e) in enumerate(zip(starts, ends)):
        assert chunks[g] == codec.encode_chunk(ts[s:e], vals[s:e])


def test_merge_is_concat_of_decodes():
    ts1, v1 = _as_arrays([0, 60, 120], [1.0, 2.0, float("nan")])
    ts2, v2 = _as_arrays([180, 240], [4.0, 4.0])
    flat_t, flat_v, counts = codec.decode_many(
        [codec.encode_chunk(ts1, v1), codec.encode_chunk(ts2, v2)])
    assert counts.tolist() == [3, 2]
    merged = codec.encode_chunk(flat_t, flat_v)
    mt, mv = codec.decode_chunk(merged)
    assert np.array_equal(mt, np.concatenate([ts1, ts2]))
    assert _bits_equal(mv, np.concatenate([v1, v2]))
    assert merged == codec.encode_chunk(np.concatenate([ts1, ts2]), np.concatenate([v1, v2]))


_ODD_VALUES = [0.0, -0.0, float("nan"), float("inf"), float("-inf"), 1.5,
               -2.25, 5e-324]


def _draw_buffer(data):
    """One chunk buffer of a random kind: header-only, single-point,
    multi-point (small or raw-64-bit delta-of-delta), legacy v0, or a
    max_points sub-chunk container mixing v0 and v1."""
    kind = data.draw(st.sampled_from(
        ["empty", "single", "multi", "raw_dod", "v0", "container"]))
    n = {"empty": 0, "single": 1}.get(kind) or data.draw(st.integers(2, 12))
    base = data.draw(st.integers(-2**40, 2**40))
    step = 10**12 if kind == "raw_dod" else 60_000_000
    ts = base + np.cumsum(np.array(data.draw(st.lists(
        st.integers(0, step), min_size=n, max_size=n)), dtype=np.int64))
    vals = np.array(data.draw(st.lists(
        st.one_of(st.sampled_from(_ODD_VALUES),
                  st.floats(allow_nan=True, width=64)),
        min_size=n, max_size=n)), dtype=np.float64)
    if kind == "v0":
        return codec.encode_chunk_v0(ts, vals)
    if kind == "container":
        cut = data.draw(st.integers(1, n - 1))
        return codec.encode_chunk_v0(ts[:cut], vals[:cut]) + b"".join(
            codec.encode_many(ts[cut:], vals[cut:],
                              np.arange(0, n - cut, 3, dtype=np.int64)))
    return codec.encode_chunk(ts, vals)


@given(st.data())
@settings(max_examples=150, deadline=None)
def test_decode_many_is_concat_of_decode_all(data):
    bufs = [_draw_buffer(data) for _ in range(data.draw(st.integers(0, 12)))]
    ts, vals, counts = codec.decode_many(bufs)
    decoded = [codec.decode_all(b) for b in bufs]
    assert counts.tolist() == [len(t) for t, _ in decoded]
    assert ts.dtype == np.int64 and vals.dtype == np.float64
    want_t = np.concatenate([np.zeros(0, np.int64)] + [t for t, _ in decoded])
    want_v = np.concatenate([np.zeros(0)] + [v for _, v in decoded])
    assert np.array_equal(ts, want_t)
    assert _bits_equal(vals, want_v)


def test_bad_magic_rejected():
    with pytest.raises(ValueError):
        codec.decode_chunk(b"\x00" * 20)


def test_pack_bits_basic():
    out = codec.pack_bits(np.array([0b101, 0b1], dtype=np.uint64),
                          np.array([3, 1], dtype=np.int64))
    assert out.tobytes() == bytes([0b10110000])


def test_encode_throughput_vectorized():
    """Encoder must stay numpy-speed: 1M points across 10k chunks in
    well under cluster-relevant time (no per-point Python)."""
    import time
    rng = np.random.default_rng(42)
    n = 1_000_000
    ts = np.cumsum(rng.integers(0, 2_000_000, n)).astype(np.int64)
    vals = np.round(rng.normal(100, 5, n), 2)
    starts = np.arange(0, n, 100, dtype=np.int64)
    t0 = time.process_time()
    chunks = codec.encode_many(ts, vals, starts)
    dt = time.process_time() - t0
    assert len(chunks) == 10_000
    # regression canary, not a benchmark: CPU time (not wall clock — the
    # suite shares the host with Spark JVMs and wall time has multi-second
    # scheduling noise). A per-point-Python regression would be >60s CPU.
    assert dt < 20.0, f"encode_many too slow: {dt:.1f}s CPU for 1M points"


# ---------------------------------------------------------------------------
# format upgrade (IndexUpgrader analogue)
# ---------------------------------------------------------------------------

def test_v0_roundtrip_and_upgrade():
    # realistic series shape (near-regular interval, small-int values):
    # where delta-of-delta + XOR actually compress
    rng = np.random.default_rng(3)
    ts = np.cumsum(60_000_000 + rng.integers(-5, 6, 200))
    vals = rng.integers(0, 50, 200).astype(np.float64)
    old = codec.encode_chunk_v0(ts, vals)
    assert codec.chunk_version(old) == codec.LEGACY_VERSION
    t0, v0 = codec.decode_chunk(old)
    assert np.array_equal(t0, ts)
    assert np.array_equal(v0.view(np.uint64), vals.view(np.uint64))
    up = codec.upgrade_chunk(old)
    assert codec.chunk_version(up) == codec.VERSION
    assert up == codec.encode_chunk(ts, vals)  # byte-identical to direct
    assert len(up) < len(old)  # the upgrade actually compresses
    # idempotent: current chunks pass through byte-stable
    assert codec.upgrade_chunk(up) == up


def test_upgrade_subchunk_container():
    rng = np.random.default_rng(4)
    ts = np.sort(rng.integers(0, 10**12, 100))
    vals = rng.normal(0, 5, 100)
    mixed = codec.encode_chunk_v0(ts[:50], vals[:50]) + \
        codec.encode_chunk(ts[50:], vals[50:])
    up = codec.upgrade_chunk(mixed, max_points=30)
    t, v = codec.decode_all(up)
    assert np.array_equal(t, ts)
    assert np.array_equal(v.view(np.uint64), vals.view(np.uint64))
    assert codec.chunk_n_points(up) <= 30


def test_store_level_upgrade(spark, tmp_path):
    """TieredStore.upgrade_tier rewrites legacy chunks in place."""
    import pandas as pd

    from mimir_spark.lineage import TieredStore

    rng = np.random.default_rng(5)
    rows = []
    for s in ("a", "b"):
        ts = np.sort(rng.integers(10**15, 2 * 10**15, 40))
        vals = rng.normal(0, 2, 40)
        rows.append({
            "tier": "1h", "kind": "conv", "series_key": s, "metric": "m",
            "bucket_ts": pd.Timestamp(int(ts[0]), unit="us"),
            "cnt": 40, "sum_v": float(vals.sum()), "min_v": float(vals.min()),
            "max_v": float(vals.max()), "last_v": float(vals[-1]),
            "chunk": codec.encode_chunk_v0(ts, vals),
        })
    df = spark.createDataFrame(pd.DataFrame(rows))
    store = TieredStore(tmp_path / "upstore")
    store.write_partition(df, "1h", 0)
    assert store.upgrade_tier(spark, "1h") == 1
    back = store.read_tier(spark, "1h").toPandas()
    assert len(back) == 2
    for r in back.itertuples(index=False):
        assert codec.chunk_version(bytes(r.chunk)) == codec.VERSION
        t, v = codec.decode_all(bytes(r.chunk))
        assert len(t) == r.cnt and v[-1] == r.last_v

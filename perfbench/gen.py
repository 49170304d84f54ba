"""Seeded transcript corpora for the benchmark.

The generator is the benchmark's own, so the engine only ever sees the
parquet written here: a change to ``mimir_spark/fixtures.py`` cannot
change what the benchmark measures. The shape follows the engine's
fixture (conv_id, turn_idx, role, text, tool, ts), with its two knobs
kept:

- hot-conversation skew: conversation ``i`` with ``i % 1000 == 7`` has
  500..2000 turns, the rest a lognormal count clipped to 1..512;
- exact duplicates: 0.5% of rows appear twice.

Everything is vectorized numpy; text comes from a seeded pool of
sentences, so token counts keep the fixture's geometric length
distribution while generation stays far from Python-loop speed.
Timestamps are written as UTC instants (Spark ``timestamp``).
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ANCHOR_US = 1_767_571_200_000_000  # 2026-01-05T00:00:00Z
DAY_US = 86_400_000_000
ROLES = np.array(["user", "assistant", "tool"], dtype=object)
ROLE_P = np.array([0.35, 0.45, 0.20])
TOOLS = np.array(["bash", "search", "read", "write", "browser"], dtype=object)
_W = 1.0 / np.arange(1, len(TOOLS) + 1) ** 1.2
TOOL_P = _W / _W.sum()
TEXT_POOL = 4096
SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
#: Spark DDL of SCHEMA (streaming file sources need it spelled out)
SPARK_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
                "tool string, ts timestamp")


def _text_pool(rng: np.random.Generator) -> np.ndarray:
    syll = np.array(["ba", "ko", "ri", "ta", "mu", "ze", "lo", "fi", "na",
                     "du", "pe", "sa", "wi", "go", "che", "ver", "tion"])
    parts = rng.integers(0, len(syll), size=(2000, 3))
    vocab = np.array(["".join(syll[p]) for p in parts])
    lens = rng.geometric(1.0 / 40.0, size=TEXT_POOL).clip(1, 400)
    pool = np.array([" ".join(vocab[rng.integers(0, len(vocab), n)])
                     for n in lens], dtype=object)
    pool[0] = ""                      # empty-text edge
    pool[1] = "Thîs ís à teßt €12"    # non-ASCII edge
    pool[2] = "  padded   spaces  "   # whitespace runs
    return pool


def corpus(n_conv: int, seed: int, span_days: float = 7.0) -> pa.Table:
    """One seeded corpus of ``n_conv`` conversations starting uniformly
    over ``span_days`` days, in generation order (rows of a
    conversation are contiguous; duplicates follow their original)."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, n_conv]))
    ids = np.arange(n_conv)
    n = np.clip(np.round(rng.lognormal(2.3, 1.0, n_conv)), 1, 512)
    hot = ids % 1000 == 7
    n[hot] = rng.integers(500, 2001, int(hot.sum()))
    n = n.astype(np.int64)
    rows = int(n.sum())
    conv = np.repeat(ids, n)
    first = np.concatenate([[0], np.cumsum(n)[:-1]])
    turn = np.arange(rows) - np.repeat(first, n)

    role = ROLES[rng.choice(3, rows, p=ROLE_P)]
    tool = np.where(role == "tool", TOOLS[rng.choice(len(TOOLS), rows, p=TOOL_P)],
                    None)
    text = _text_pool(rng)[rng.integers(0, TEXT_POOL, rows)]

    start = ANCHOR_US + rng.integers(0, int(span_days * DAY_US), n_conv)
    delta = rng.exponential(20e6, rows)
    gap = rng.random(rows) < 0.05
    delta[gap] = rng.uniform(6e8, 1.08e10, int(gap.sum()))
    delta[first] = 0
    csum = np.cumsum(delta)
    ts = np.repeat(start, n) + (csum - np.repeat(csum[first], n)).astype(np.int64)

    keep = np.arange(rows)
    dup = np.flatnonzero(rng.random(rows) < 0.005)
    order = np.sort(np.concatenate([keep, dup]), kind="stable")
    names = np.array([f"conv-{i:08d}" for i in ids], dtype=object)
    return pa.table({
        "conv_id": pa.array(names[conv[order]], pa.string()),
        "turn_idx": pa.array(turn[order].astype(np.int32)),
        "role": pa.array(role[order], pa.string()),
        "text": pa.array(text[order], pa.string()),
        "tool": pa.array(tool[order], pa.string()),
        "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
    }, schema=SCHEMA)


def write_corpus(table: pa.Table, out: Path, files: int = 4) -> Path:
    """Write ``table`` as ``files`` parquet files under ``out``."""
    out.mkdir(parents=True, exist_ok=True)
    for old in out.glob("*.parquet"):
        old.unlink()
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), out / f"part-{i:05d}.parquet")
    return out


def write_tail(table: pa.Table, out: Path, files: int) -> Path:
    """The live-tail variant: rows sorted by event time and cut into
    ``files`` consecutive files, one per micro-batch, so each file is a
    later slice of the stream than the one before it."""
    ts = table.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    write_corpus(table.take(np.argsort(ts, kind="stable")), out, files)
    # the file source orders by modification time: make it the file order
    for i, f in enumerate(sorted(out.glob("*.parquet"))):
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    return out

"""Crash-point enumeration: every durable writer, stopped at each of
its failpoints (``lineage._failpoint``) at the first and at the last
hit, then re-run on what the stop left behind, ends with the same
store as a single-shot run.

The stop is a hard kill: the replaced failpoint copies the workspace
before it raises, so the copy holds the files as they were at that
step and no ``finally`` cleanup of the stopped run reaches it. The
re-run works on the copy. "The same store" is every tier's rows
(chunk bytes included), the applied-batch ledgers, the lineage rows
without ``committed_at``, the meta sidecars and the directory layout
— which also proves no ``.old-*``, ``.tmp-*``, ``.stage-*`` or
``_staging`` debris is left."""

from __future__ import annotations

import json
import shutil
from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mimir_spark import codec, lineage
from mimir_spark.alerts import AlertLedger, AlertRule, run_alert_job
from mimir_spark.fixtures import TRANSCRIPT_SCHEMA, transcripts_pandas
from mimir_spark.ingest import ingest, turn_metrics
from mimir_spark.lineage import TieredStore, run_rollup_job
from mimir_spark.recording import RecordingRule, refresh_recording
from mimir_spark.rollup import rollup_distinct_sketch, rollup_points
from mimir_spark.streaming.rollup_stream import (chunk_store_sink,
                                                 read_stream_metrics,
                                                 sketch_store_sink)

TIERS = ("1h", "1d")
P = 2
T1 = "2026-03-01"
_DEBRIS = (".old-", ".tmp-", ".stage-", "_staging")


class Crash(RuntimeError):
    pass


@pytest.fixture(scope="module")
def frames(spark):
    t = transcripts_pandas(30)
    full = spark.createDataFrame(t, schema=TRANSCRIPT_SCHEMA)
    half = full.filter(F.col("conv_id").isin(
        sorted(t["conv_id"].unique())[:15]))
    return {"full": full, "half": half}


def _store(ws: Path) -> TieredStore:
    return TieredStore(ws / "store")


def _sketch(df):
    return rollup_distinct_sketch(turn_metrics(ingest(df)), "1h")


def _as_stream(df, cols):
    """Batch rows shaped as a micro-batch emits them: tz-naive
    bucket_ts, closed buckets of two dates (a merge sink rewrites each
    date it touches)."""
    return df.filter(F.to_date("bucket_ts") <= F.lit("2026-01-06")) \
        .select(*[F.expr("cast(bucket_ts as timestamp_ntz)")
                  .alias(c) if c == "bucket_ts" else c for c in cols])


def _chunk_rows(df):
    return _as_stream(
        rollup_points(turn_metrics(ingest(df)), tiers=("1h",)),
        ["kind", "series_key", "metric", "bucket_ts", "cnt", "sum_v",
         "min_v", "max_v", "last_v", "chunk"])


def _legacy_tier(spark, store):
    """A 1h tier of codec-v0 chunks over three dates and two shards,
    so an upgrade changes every chunk's bytes."""
    rng = np.random.default_rng(3)
    for p in range(P):
        rows = []
        for day in range(3):
            for s in ("a", "b"):
                start = pd.Timestamp(f"2026-01-0{5 + day} 0{p + 1}:00")
                ts = np.sort(rng.integers(0, 3_600_000_000, 30)) \
                    + start.value // 1000
                vals = rng.normal(0, 2, 30)
                rows.append({
                    "tier": "1h", "kind": "conv", "series_key": s,
                    "metric": "m", "bucket_ts": start, "cnt": 30,
                    "sum_v": float(vals.sum()),
                    "min_v": float(vals.min()),
                    "max_v": float(vals.max()),
                    "last_v": float(vals[-1]),
                    "chunk": codec.encode_chunk_v0(ts, vals)})
        store.write_partition(spark.createDataFrame(pd.DataFrame(rows)),
                              "1h", p)


def _alert_rules():
    return [AlertRule(name=n, metric="token_volume", agg="sum", step="1h",
                      op=">", threshold=thr, for_="2h", kind="tool")
            for n, thr in (("hot", 100.0), ("warm", 20.0))]


def _rec_rule(agg):
    return RecordingRule(name="tok", source="range", metric="token_volume",
                         agg=agg, step="1h", kind="tool")


def _base(spark, frames, ws):
    run_rollup_job(spark, lambda: frames["full"], _store(ws), "j0",
                   num_partitions=P, tiers=TIERS)


#: writer -> (set-up of the store it starts from, the write itself);
#: each takes (spark, frames, workspace dir)
WRITERS = {
    "run_rollup_job": (
        _base,
        lambda spark, fr, ws: run_rollup_job(
            spark, lambda: fr["half"], _store(ws), "j1",
            num_partitions=P, tiers=TIERS)),
    "compact_tier": (
        _base,
        lambda spark, fr, ws: _store(ws).compact_tier(spark, "1h", "1d")),
    "upgrade_tier": (
        lambda spark, fr, ws: _legacy_tier(spark, _store(ws)),
        lambda spark, fr, ws: _store(ws).upgrade_tier(spark, "1h")),
    "write_sketch_tier": (
        lambda spark, fr, ws: _store(ws).write_sketch_tier(
            _sketch(fr["half"]), "1h"),
        lambda spark, fr, ws: _store(ws).write_sketch_tier(
            _sketch(fr["full"]), "1h")),
    "compact_sketch_tier": (
        lambda spark, fr, ws: _sketch_tiers_with_ledger(spark, fr, ws),
        lambda spark, fr, ws: _store(ws).compact_sketch_tier(
            spark, "1h", "1d")),
    "sketch_store_sink": (
        lambda spark, fr, ws: _store(ws).write_sketch_tier(
            _sketch(fr["full"]), "1h"),
        lambda spark, fr, ws: sketch_store_sink(
            _store(ws), "1h", app_id="app")(
            _as_stream(_sketch(fr["half"]),
                       ["kind", "series_key", "metric", "bucket_ts",
                        "cnt", "distinct_sketch"]), 5)),
    "chunk_store_sink": (
        lambda spark, fr, ws: chunk_store_sink(
            _store(ws), "1h", app_id="app", num_partitions=P)(
            _chunk_rows(fr["half"]), 1),
        lambda spark, fr, ws: chunk_store_sink(
            _store(ws), "1h", app_id="app", num_partitions=P)(
            _chunk_rows(fr["full"]), 2)),
    "run_alert_job": (
        lambda spark, fr, ws: (
            _base(spark, fr, ws),
            run_alert_job(spark, _store(ws), _alert_rules(),
                          AlertLedger(ws / "alerts"), t1="2026-01-08")),
        lambda spark, fr, ws: run_alert_job(
            spark, _store(ws), _alert_rules(), AlertLedger(ws / "alerts"),
            t1=T1)),
    "refresh_recording": (
        lambda spark, fr, ws: (
            _base(spark, fr, ws),
            refresh_recording(spark, _store(ws), _rec_rule("sum"), t1=T1,
                              num_partitions=P)),
        # a changed rule definition: the full rebuild
        lambda spark, fr, ws: refresh_recording(
            spark, _store(ws), _rec_rule("max"), t1=T1,
            num_partitions=P)),
}


def _sketch_tiers_with_ledger(spark, fr, ws):
    """Sketch tiers 1h and 1d, the first 1d date carrying a streaming
    ledger that a re-compaction must keep."""
    s = _store(ws)
    s.write_sketch_tier(_sketch(fr["full"]), "1h")
    s.compact_sketch_tier(spark, "1h", "1d")
    first = sorted(s.sketch_dir("1d").glob("bucket_date=*"))[0]
    (first / "_applied_batches.json").write_text(json.dumps(["stream/9"]))


def _rows(f: Path) -> list[str]:
    rows = pq.read_table(f).to_pylist()
    return [repr(sorted((k, v) for k, v in r.items()
                        if k != "committed_at")) for r in rows]


def _state(ws: Path) -> dict:
    """Relative path -> content for everything under ``ws``: parquet
    rows (Spark's per-write part-file names folded into one entry per
    directory, rows sorted), parsed JSON, deduped stream metrics, other
    files' bytes, and every directory."""
    out: dict = {}
    for f in sorted(ws.rglob("*")):
        rel = str(f.relative_to(ws))
        if f.is_dir():
            out[rel] = "dir"
        elif f.name.endswith(".crc"):  # Hadoop checksums
            continue
        elif f.name.startswith("part-"):
            out.setdefault(str(f.parent.relative_to(ws)) + "/part-*",
                           []).extend(_rows(f))
        elif f.suffix == ".parquet":
            out[rel] = sorted(_rows(f))
        elif f.name == "metrics.jsonl":
            out[rel] = read_stream_metrics(f.parent)
        elif f.suffix == ".json":
            out[rel] = json.loads(f.read_text())
        else:
            out[rel] = f.read_bytes()
    for k, v in out.items():
        if k.endswith("/part-*"):
            v.sort()
    return out


def _assert_same_store(got: dict, want: dict, case: str):
    debris = [k for k in got
              if any(part.startswith(_DEBRIS) for part in Path(k).parts)]
    assert not debris, f"{case}: debris {debris}"
    diff = sorted(k for k in set(got) | set(want)
                  if got.get(k) != want.get(k))
    assert not diff, f"{case}: differs from single-shot at {diff[:8]}"


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_crash_at_every_failpoint_then_rerun_equals_single_shot(
        spark, frames, tmp_path, monkeypatch, writer):
    setup, write = WRITERS[writer]
    base = tmp_path / "base"
    setup(spark, frames, base)

    hits: Counter = Counter()

    def count(name):
        hits[name] += 1

    ref = tmp_path / "ref"
    shutil.copytree(base, ref)
    monkeypatch.setattr(lineage, "_failpoint", count)
    write(spark, frames, ref)
    want = _state(ref)
    _assert_same_store(want, want, "single-shot")
    assert hits, f"{writer} passes no failpoint"

    for name, last in sorted(hits.items()):
        for hit in sorted({1, last}):
            case = f"{writer}@{name}#{hit}"
            ws, snap = tmp_path / f"{case}-run", tmp_path / f"{case}-snap"
            shutil.copytree(base, ws)
            seen: Counter = Counter()

            def kill(n, name=name, hit=hit, ws=ws, snap=snap, seen=seen):
                seen[n] += 1
                if n == name and seen[n] == hit:
                    shutil.copytree(ws, snap)
                    raise Crash(n)

            monkeypatch.setattr(lineage, "_failpoint", kill)
            with pytest.raises(Crash):
                write(spark, frames, ws)
            monkeypatch.setattr(lineage, "_failpoint", count)
            write(spark, frames, snap)
            _assert_same_store(_state(snap), want, case)
            shutil.rmtree(ws)
            shutil.rmtree(snap)


def test_upgrade_cut_between_leaf_renames_keeps_every_row(
        spark, tmp_path, monkeypatch):
    """upgrade_tier killed after a leaf left its place and before its
    upgraded replacement landed: the tier is its own source, so the
    re-run must find the leaf again — it still holds every row, with
    the chunk bytes of a single-shot upgrade."""
    single, cut = tmp_path / "single", tmp_path / "cut"
    _legacy_tier(spark, _store(single))
    shutil.copytree(single, cut)
    _store(single).upgrade_tier(spark, "1h")

    tier = _store(cut).tier_dir("1h")
    real = Path.rename

    def rename(self, target):
        t = Path(target)
        if t.name.startswith("bucket_date=") and tier in t.parents:
            raise Crash(f"killed before {t} landed")
        return real(self, target)

    with monkeypatch.context() as m:
        m.setattr(Path, "rename", rename)
        with pytest.raises(Crash):
            _store(cut).upgrade_tier(spark, "1h")
    _store(cut).upgrade_tier(spark, "1h")
    _assert_same_store(_state(cut), _state(single), "upgrade re-run")


def test_upgrade_heals_shard_a_rollup_job_left_aside(
        spark, frames, tmp_path, monkeypatch):
    """A rollup job killed inside swap_dir, after it moved a live
    shard aside and before its replacement landed, leaves
    ``.old-p=N`` in the tier dir. upgrade_tier reads the tier as its
    own source, so it must roll that shard back before the read: the
    upgraded tier holds every row of a single-shot upgrade."""
    single, ws = tmp_path / "single", tmp_path / "ws"
    _base(spark, frames, single)
    shutil.copytree(single, ws)
    _store(single).upgrade_tier(spark, "1h")

    snap = tmp_path / "snap"

    def kill(name):
        if name == "swap_dir.moved_aside":
            shutil.copytree(ws, snap)
            raise Crash(name)

    with monkeypatch.context() as m:
        m.setattr(lineage, "_failpoint", kill)
        with pytest.raises(Crash):
            WRITERS["run_rollup_job"][1](spark, frames, ws)
    tier = _store(snap).tier_dir("1h")
    assert list(tier.glob(".old-p=*")), "the cut left no shard aside"
    _store(snap).upgrade_tier(spark, "1h")

    def tier_state(root):
        return {k: v for k, v in _state(root).items()
                if k.startswith("store/tier=1h")}

    _assert_same_store(tier_state(snap), tier_state(single),
                       "upgrade after a cut rollup job")

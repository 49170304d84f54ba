"""Streaming crash-resume drill: SIGKILL stream_job mid-ingest, restart
from the same checkpoint + app-id, prove resume ≡ uninterrupted.

The batch writers' crash points are enumerated in
tests/test_crash_points.py (each failpoint, re-run ≡ single-shot); this
is the one check of checkpoint replay across a real process kill. The
recovery contract under test:

  - Structured Streaming's checkpoint replays the killed micro-batch
    with the SAME file offsets, so the batch sequence (and therefore
    the watermark progression and the emitted closed-bucket set) is
    identical to an uninterrupted run;
  - chunk_store_sink is append-only with deterministically-named files
    and a per-date applied-batch ledger committed last, so the replayed
    batch's moves overwrite themselves (exactly-once, no read-modify-
    write);
  - sketch_store_sink commits each date through lineage.swap_dir; the
    next write heals a cut-short swap, and a date rolled back merges
    the replayed batch again.

  1. ts-ordered source (range-partitioned by ts so file listing order
     == event-time order — the in-order ingest contract)
  2. uninterrupted stream_job --once -> store A
  3. fresh stream_job --once -> store B, SIGKILL of the whole process
     group at --kill-after seconds (mid-batch); re-submit the SAME
     command (same checkpoint, same app-id)
  4. compare A vs B on the chunk tier: row count, sum(cnt), sum(sum_v),
     sum(crc32(chunk)) — chunk BYTES equal — plus the relative store
     file listing; sketch tiers compare on row count + summed estimate.

Prints one JSON line; non-zero exit if any comparison differs.

Usage:
    python jobs/stream_crash_drill.py [--convs 200000] [--tier 1m]
        [--kill-after 45] [--files 24] [--cpus 8]
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

REPO = pathlib.Path(__file__).resolve().parent.parent
CACHE = REPO / ".cache"


def note(msg):
    print(f"[stream-drill] {msg}", file=sys.stderr, flush=True)


def _ensure_ordered_source(convs: int, files: int, cpus: int) -> str:
    """A ts-ordered multi-file parquet source: repartitionByRange(ts)
    + sortWithinPartitions(ts) makes part-file path order == event-time
    order, which is what a live tail looks like to the file source."""
    src = CACHE / f"stream_src_ordered_{convs}_{files}"
    if not (src / "_SUCCESS").exists():
        from mimir_spark.fixtures import transcripts_df
        from mimir_spark.session import get_spark

        note(f"generating ordered source {src}")
        spark = get_spark("drill-gen", cpus=cpus)
        corpus = CACHE / f"transcripts_bench_{convs}"
        df = (spark.read.parquet(str(corpus))
              if (corpus / "_SUCCESS").exists()
              else transcripts_df(spark, convs))
        (df.repartitionByRange(files, "ts").sortWithinPartitions("ts")
         .write.mode("overwrite").parquet(str(src)))
        spark.stop()
        # one write -> one mtime for every part file, but the file
        # source batches by (mtime, path) — bump mtimes sequentially in
        # path order (range partition 0 = lowest ts) so arrival order
        # == event-time order, the live-tail shape; without this the
        # watermark jumps to near-max after batch 1 and most of the
        # corpus is (correctly) late-dropped
        parts = sorted(pathlib.Path(src).glob("part-*"))
        t = time.time() - len(parts) * 2
        for i, p in enumerate(parts):
            os.utime(p, (t + i * 2, t + i * 2))
    return str(src)


def _run_stream(src: str, store: str, tier: str, kill_after: float | None,
                cpus: int) -> int:
    cmd = [sys.executable, str(REPO / "jobs" / "stream_job.py"),
           "--source", src, "--store", store, "--tier", tier, "--once",
           "--partitions", "8", "--max-files-per-trigger", "4",
           "--distinct-sketch", "conv_id", "--histogram",
           "--cpus", str(cpus)]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL, start_new_session=True)
    if kill_after is None:
        return p.wait()
    time.sleep(kill_after)
    try:
        os.killpg(os.getpgid(p.pid), signal.SIGKILL)
    except ProcessLookupError:
        pass  # finished before the kill — drill still valid but weaker
    rc = p.wait()
    note(f"killed mid-run (rc={rc})")
    return rc


def _listing(root: str, tier: str) -> list[str]:
    base = pathlib.Path(root) / f"tier={tier}"
    return sorted(str(p.relative_to(base)) for p in base.rglob("*.parquet"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=200_000)
    ap.add_argument("--tier", default="1m", choices=["1m", "1h", "1d"])
    ap.add_argument("--kill-after", type=float, default=45.0)
    ap.add_argument("--files", type=int, default=24)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args(argv)

    src = _ensure_ordered_source(args.convs, args.files, args.cpus)
    a_dir = str(CACHE / "stream_drill_a")
    b_dir = str(CACHE / "stream_drill_b")
    for d in (a_dir, b_dir):
        shutil.rmtree(d, ignore_errors=True)

    t0 = time.monotonic()
    note("uninterrupted stream -> store A")
    assert _run_stream(src, a_dir, args.tier, None, args.cpus) == 0
    note(f"store A done ({time.monotonic() - t0:.0f}s)")

    note(f"crashed stream -> store B (SIGKILL at {args.kill_after}s)")
    _run_stream(src, b_dir, args.tier, args.kill_after, args.cpus)
    note("resuming store B from its checkpoint")
    t1 = time.monotonic()
    assert _run_stream(src, b_dir, args.tier, None, args.cpus) == 0
    resume_s = time.monotonic() - t1

    from pyspark.sql import functions as F

    from mimir_spark.lineage import TieredStore
    from mimir_spark.session import get_spark

    spark = get_spark("stream-drill-verify", cpus=args.cpus)
    result = {"metric": "stream_crash_drill", "convs": args.convs,
              "tier": args.tier, "kill_after_s": args.kill_after,
              "resume_wall_s": round(resume_s, 1)}
    ok = True

    def chunk_sig(root):
        df = TieredStore(root).read_tier(spark, args.tier)
        r = df.agg(F.count("*"), F.sum("cnt"), F.sum("sum_v"),
                   F.sum(F.crc32("chunk").cast("decimal(38,0)"))).first()
        return [str(x) for x in r]

    sig_a, sig_b = chunk_sig(a_dir), chunk_sig(b_dir)
    files_equal = _listing(a_dir, args.tier) == _listing(b_dir, args.tier)
    result["chunk_tier"] = {"a": sig_a, "b": sig_b,
                            "equal": sig_a == sig_b,
                            "file_listing_equal": files_equal}
    ok &= sig_a == sig_b and files_equal

    def sketch_sig(root):
        d = pathlib.Path(root) / f"sketch={args.tier}"
        if not d.exists():
            return ["missing"]
        df = spark.read.parquet(str(d))
        r = df.agg(F.count("*"), F.sum("n_distinct"),
                   F.sum(F.hll_sketch_estimate("distinct_sketch")
                         .cast("long"))).first()
        return [str(x) for x in r]

    sk_a, sk_b = sketch_sig(a_dir), sketch_sig(b_dir)
    result["sketch_tier"] = {"a": sk_a, "b": sk_b, "equal": sk_a == sk_b}
    ok &= sk_a == sk_b

    def hist_sig(root):
        d = pathlib.Path(root) / f"hist={args.tier}"
        if not d.exists():
            return ["missing"]
        df = spark.read.parquet(str(d))
        # full sketch-state signature: cnt/zero sums + an order-
        # insensitive hash over every (bin, count) entry of both maps
        ent_hash = F.xxhash64(
            "kind", "series_key", "metric", "bucket_ts",
            F.map_entries("neg_bins").cast("string"),
            F.map_entries("pos_bins").cast("string"))
        r = df.agg(F.count("*"), F.sum("cnt"), F.sum("zero_cnt"),
                   F.sum(ent_hash.cast("decimal(38,0)"))).first()
        return [str(x) for x in r]

    h_a, h_b = hist_sig(a_dir), hist_sig(b_dir)
    result["hist_tier"] = {"a": h_a, "b": h_b, "equal": h_a == h_b}
    ok &= h_a == h_b

    result["ok"] = bool(ok)
    print(json.dumps(result), flush=True)
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

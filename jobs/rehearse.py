"""At-scale rehearsals, one JSON line each on stdout (progress on
stderr; exit 1 on ``"ok": false``). Data lives under ``.cache/``; stage
timings come from Spark's in-process status store, with the UI off.

- ``scale``: ``run_rollup_job`` over a ~10x bench corpus; shard and
  task-time skew, staged turns vs source size, peak JVM RSS (VmHWM).
- ``hist``: the DDSketch tiers on it; 1m build, 1h cascade, a 2h p99.
- ``stream-crash``: ``stream_job --once`` into store A, and into store
  B SIGKILLed after --kill-after s, then resumed from its checkpoint;
  A and B must match in chunk bytes, files, sketches and histograms. A
  run that ends before the kill crashed nothing: ``"ok": false``.
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

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from mimir_spark.fixtures import transcripts_df  # noqa: E402
from mimir_spark.histogram import rollup_histogram  # noqa: E402
from mimir_spark.ingest import ingest, turn_metrics  # noqa: E402
from mimir_spark.lineage import TieredStore, run_rollup_job  # noqa: E402
from mimir_spark.read_path import query_range_quantile  # noqa: E402
from mimir_spark.session import get_spark  # noqa: E402

CACHE = REPO / ".cache"
T0 = time.monotonic()


def note(msg: str) -> None:
    print(f"[rehearse +{time.monotonic() - T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def timed(fn, *args, **kwargs):
    t0 = time.monotonic()
    out = fn(*args, **kwargs)
    return out, time.monotonic() - t0


def dir_bytes(path) -> int:
    return sum(f.stat().st_size for f in pathlib.Path(path).rglob("*")
               if f.is_file())


def fresh_dir(name: str) -> pathlib.Path:
    d = CACHE / name
    shutil.rmtree(d, ignore_errors=True)
    return d


def rehearsal_corpus(spark, convs: int) -> tuple[str, int]:
    """The ``convs``-conversation corpus (generated once), its turns."""
    corpus = CACHE / f"transcripts_rehearsal_{convs}"
    if not (corpus / "_SUCCESS").exists():
        note(f"generating {convs}-conv corpus -> {corpus}")
        transcripts_df(spark, convs).write.mode("overwrite") \
            .parquet(str(corpus))
    n_turns = spark.read.parquet(str(corpus)).count()
    note(f"corpus {corpus}: {n_turns} turns")
    return str(corpus), n_turns


def _stages(spark) -> list:
    sc = spark.sparkContext
    seq = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    return [seq.apply(i) for i in range(seq.length())]  # v1.StageData


def task_skew(spark, first_stage: int) -> list[dict]:
    """executorRunTime quantiles (p5, p50, p95, max) of the five
    heaviest completed stages numbered ``first_stage`` or later."""
    sc = spark.sparkContext
    qs = sc._gateway.new_array(sc._jvm.double, 4)
    for i, q in enumerate((0.05, 0.5, 0.95, 1.0)):
        qs[i] = q
    done = sorted((s for s in _stages(spark) if s.stageId() >= first_stage
                   and str(s.status()) == "COMPLETE"),
                  key=lambda s: s.executorRunTime(), reverse=True)
    out = []
    for s in done[:5]:
        summary = sc._jsc.sc().statusStore().taskSummary(
            s.stageId(), s.attemptId(), qs)
        rt = summary.get().executorRunTime() if summary.isDefined() else None
        out.append({
            "stage": s.stageId(), "name": s.name()[:60],
            "tasks": s.numCompleteTasks(),
            "run_time_quantiles_s": [] if rt is None else [
                round(rt.apply(i) / 1000.0, 2) for i in range(rt.length())],
            "total_run_time_s": round(s.executorRunTime() / 1000.0, 1),
            "shuffle_write_mb": round(s.shuffleWriteBytes() / 1e6, 1),
            "peak_execution_memory_mb": round(
                s.peakExecutionMemory() / 1e6, 1)})
    return out


def scale(spark, args) -> dict:
    corpus, n_turns = rehearsal_corpus(spark, args.convs)
    src_bytes = dir_bytes(corpus)
    store = TieredStore(fresh_dir(
        f"rehearsal_store_{args.convs}_{args.partitions}"))
    first_stage = max((s.stageId() for s in _stages(spark)), default=-1) + 1
    rows, wall = timed(run_rollup_job, spark,
                       lambda: spark.read.parquet(corpus), store,
                       "rehearsal", num_partitions=args.partitions,
                       keep_staging=True)
    staging = store.turns_staging_dir("rehearsal")
    staging_bytes = dir_bytes(staging)
    store.cleanup_staging(staging)
    note(f"rollup job: {len(rows)} shards in {wall:.1f}s")
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pid = mf.getRuntimeMXBean().getPid()  # this session's own JVM
    status = pathlib.Path(f"/proc/{pid}/status").read_text()
    hwm_kb = int(status.split("VmHWM:")[1].split()[0])
    lin = store.read_lineage(spark, "rehearsal").toPandas()
    ri, po = sorted(lin["rows_in"]), sorted(lin["points_out"])
    n = len(ri)
    payload = {
        "metric": "scale_rehearsal", "convs": args.convs,
        "turns": int(n_turns), "partitions": args.partitions,
        "wall_s": round(wall, 1), "turns_per_s": round(n_turns / wall),
        "source_gb": round(src_bytes / 1e9, 2),
        "staging_peak_gb": round(staging_bytes / 1e9, 3),
        "staging_over_source": round(staging_bytes / max(src_bytes, 1), 4),
        "store_gb": round(dir_bytes(store.root) / 1e9, 3),
        "jvm_peak_rss_gb": round(hwm_kb / 2**20, 2),
        "shard_skew": {
            "shards": n,
            "rows_in": {"min": int(ri[0]), "p50": int(ri[n // 2]),
                        "max": int(ri[-1]), "max_over_median":
                        round(ri[-1] / max(ri[n // 2], 1), 2)},
            "points_out": {"min": int(po[0]), "p50": int(po[n // 2]),
                           "max": int(po[-1])},
            "bytes_compressed_total": int(lin["bytes_compressed"].sum())},
        "task_skew_top_stages": task_skew(spark, first_stage),
    }
    if not args.keep_store:
        shutil.rmtree(store.root, ignore_errors=True)
    return payload


def hist(spark, args) -> dict:
    corpus, n_turns = rehearsal_corpus(spark, args.convs)
    store = TieredStore(fresh_dir(f"hist_rehearsal_store_{args.convs}"))
    points = turn_metrics(ingest(spark.read.parquet(corpus)))
    _, build_s = timed(store.write_hist_tier,
                       rollup_histogram(points, "1m"), "1m")
    note(f"1m tier built in {build_s:.1f}s ({n_turns / build_s:,.0f} turns/s)")
    rows_1h, cascade_s = timed(store.compact_hist_tier, spark, "1m", "1h")
    note(f"1h cascade: {rows_1h} rows in {cascade_s:.1f}s")
    bins = F.size("pos_bins") + F.size("neg_bins")
    prof = store.read_hist_tier(spark, "1m").agg(
        F.count("*").alias("rows"), F.sum(bins).alias("bins"),
        F.max(bins).alias("max_bins")).first()
    n_served, serve_s = timed(lambda: query_range_quantile(
        spark, store, "token_volume", qs={"p99": 0.99}, step="2h",
        kind="tool").count())
    payload = {
        "metric": "hist_rehearsal", "convs": args.convs,
        "turns": int(n_turns), "build_1m_s": round(build_s, 1),
        "build_turns_per_s": round(n_turns / build_s),
        "cascade_1h_s": round(cascade_s, 1),
        "rows_1m": int(prof["rows"]), "rows_1h": int(rows_1h),
        "bins_total": int(prof["bins"]),
        "bins_per_row_max": int(prof["max_bins"]),
        "store_gb": round(dir_bytes(store.root) / 1e9, 3),
        "serve_p99_2h_s": round(serve_s, 1), "serve_rows": int(n_served),
    }
    shutil.rmtree(store.root, ignore_errors=True)
    return payload


def ordered_source(spark, convs: int, files: int) -> str:
    """The corpus as ``files`` ts-ordered files with rising mtimes: the
    file source batches by (mtime, path), as a live tail arrives."""
    src = CACHE / f"stream_src_ordered_{convs}_{files}"
    if not (src / "_SUCCESS").exists():
        note(f"generating ordered source {src}")
        (spark.read.parquet(rehearsal_corpus(spark, convs)[0])
         .repartitionByRange(files, "ts").sortWithinPartitions("ts")
         .write.mode("overwrite").parquet(str(src)))
        parts = sorted(src.glob("part-*"))
        t = time.time() - len(parts) * 2
        for i, p in enumerate(parts):
            os.utime(p, (t + i * 2, t + i * 2))
    return str(src)


def run(cmd: list[str], kill_after: float | None = None) -> int:
    """Exit code of ``cmd`` run in its own process group, SIGKILLed as
    a group after ``kill_after`` seconds: -SIGKILL only if the kill
    ended the run (an unreaped leader keeps the group alive)."""
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=kill_after)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        return p.wait()


def stream_crash(spark, args) -> dict:
    src = ordered_source(spark, args.convs, args.files)
    def stream(store_dir, kill_after=None):
        rc = run([sys.executable, str(REPO / "jobs" / "stream_job.py"),
                  "--source", src, "--store", str(store_dir),
                  "--tier", args.tier, "--once", "--partitions", "8",
                  "--max-files-per-trigger", "4", "--distinct-sketch",
                  "conv_id", "--histogram", "--cpus", str(args.cpus)],
                 kill_after)
        if kill_after is None and rc != 0:
            raise RuntimeError(f"stream_job into {store_dir} failed (rc={rc})")
        return rc

    a_dir, b_dir = fresh_dir("stream_drill_a"), fresh_dir("stream_drill_b")
    note("uninterrupted stream -> store A")
    stream(a_dir)
    note(f"crashed stream -> store B (SIGKILL at {args.kill_after}s)")
    result = {"metric": "stream_crash_drill", "convs": args.convs,
              "tier": args.tier, "kill_after_s": args.kill_after,
              "killed_rc": stream(b_dir, args.kill_after)}
    if result["killed_rc"] != -signal.SIGKILL:
        note("the run ended before the kill: nothing to resume")
        return {**result, "ok": False}
    note("resuming store B from its checkpoint")
    result["resume_wall_s"] = round(timed(stream, b_dir)[1], 1)

    # the hist hash is order-insensitive over every (bin, count) entry
    entries = F.xxhash64("kind", "series_key", "metric", "bucket_ts",
                         F.map_entries("neg_bins").cast("string"),
                         F.map_entries("pos_bins").cast("string"))
    aggs = {"chunk_tier": ("tier", F.sum("cnt"), F.sum("sum_v"),
                           F.sum(F.crc32("chunk").cast("decimal(38,0)"))),
            "sketch_tier": ("sketch", F.sum("n_distinct"), F.sum(
                F.hll_sketch_estimate("distinct_sketch").cast("long"))),
            "hist_tier": ("hist", F.sum("cnt"), F.sum("zero_cnt"),
                          F.sum(entries.cast("decimal(38,0)")))}

    def sigs(root):
        out = {}
        for name, (kind, *agg) in aggs.items():
            d = root / f"{kind}={args.tier}"
            out[name] = [str(x) for x in spark.read.parquet(str(d)).agg(
                F.count("*"), *agg).first()] if d.exists() else ["missing"]
        tier = root / f"tier={args.tier}"
        out["files"] = sorted(str(p.relative_to(tier))
                              for p in tier.rglob("*.parquet"))
        return out

    a, b = sigs(a_dir), sigs(b_dir)
    for name in aggs:
        result[name] = {"a": a[name], "b": b[name], "equal": a[name] == b[name]}
    result["chunk_tier"]["file_listing_equal"] = a["files"] == b["files"]
    result["ok"] = a == b and a["chunk_tier"] != ["missing"]
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    cmds = {}
    for name, fn, convs, cpus in (("scale", scale, 2_000_000, None),
                                  ("hist", hist, 2_000_000, None),
                                  ("stream-crash", stream_crash, 200_000, 8)):
        cmds[name] = p = sub.add_parser(name)
        p.set_defaults(fn=fn)
        p.add_argument("--convs", type=int, default=convs)
        p.add_argument("--cpus", type=int, default=cpus)
    cmds["scale"].add_argument("--partitions", type=int, default=64)
    cmds["scale"].add_argument("--keep-store", action="store_true")
    p = cmds["stream-crash"]
    p.add_argument("--tier", default="1m", choices=["1m", "1h", "1d"])
    p.add_argument("--kill-after", type=float, default=45.0)
    p.add_argument("--files", type=int, default=24)
    args = ap.parse_args(argv)
    spark = get_spark(f"rehearse-{args.cmd}", cpus=args.cpus)
    try:
        payload = args.fn(spark, args)
    finally:
        spark.stop()
    print(json.dumps(payload), flush=True)
    return 0 if payload.get("ok", True) else 1


if __name__ == "__main__":
    sys.exit(main())

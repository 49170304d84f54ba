#!/usr/bin/env python3
"""Benchmark of the transcript-rollup engine: seeded workloads through
its public functions at local[nproc], answers checked, one JSON line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

``--trace 0`` measures one workload untraced and reports the end-to-end
metrics. ``--trace 1`` is the separate traced run: the event log is on
for the benchmark's session, spans are recorded around every engine
call, and the run tours both workloads plus single-layer probes, so it
reports every per-layer metric whichever workload is named. The traced
run's folder (spans, event log, per-layer table) is kept under
``perfbench/.work/traces/``. Human-readable progress and Spark's own
logging go to ``perfbench/.work/logs/``; stdout carries only the result.

A run measures a fixed amount of work, so that every run of a workload
measures the same thing; ``--seconds`` is accepted and not used. Its
timed end-to-end metrics are CPU time of the benchmark's process tree,
which a shared host's load moves far less than wall time (METRICS.md).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("backfill", "live_tail")
CPUS = os.cpu_count() or 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
DEADLINE_S = 165

E2E = {
    "setup_s": "s",
    "cpu_us_per_turn": "us",
    "store_bytes_per_turn": "B/turn",
    "op_cpu_ms": "ms",
}

FAMILIES = ["read_path.query_range", "gapfill.query_range_locf",
            "read_path.query_range_point", "read_path.series_points",
            "read_path.query_range_quantile", "read_path.query_range_distinct",
            "read_path.query_topk_series", "alerts.evaluate_rule"]

PER_LAYER = {
    "session.start_s": "s",
    "bench.generate_s": "s",
    "ingest.narrow_turns_s": "s",
    "ingest.dedup_s": "s",
    "ingest.shuffle_write_bytes": "B",
    "ingest.rows_kept_frac": "frac",
    "rollup.rollup_turns_s": "s",
    "rollup.sort_frac": "frac",
    "rollup.python_bytes_sent": "B",
    "rollup.python_bytes_received": "B",
    "rollup.spill_bytes": "B",
    "rollup.sketch_tier_s": "s",
    "histogram.hist_tier_s": "s",
    "codec.encode_us_per_point": "us",
    "codec.decode_us_per_point": "us",
    "codec.bytes_per_point.1m": "B",
    "codec.bytes_per_point.1h": "B",
    "codec.bytes_per_point.1d": "B",
    "lineage.run_rollup_job_s": "s",
    "lineage.stage_write_s": "s",
    "lineage.store_write_s": "s",
    "lineage.stats_pass_s": "s",
    "lineage.driver_only_s": "s",
    "lineage.spark_jobs": "count",
    "lineage.files_written": "count",
    "lineage.bytes_written": "B",
    **{f"{f}.p50_ms": "ms" for f in FAMILIES},
    "read_path.driver_ms_per_query": "ms",
    "read_path.spark_jobs_per_query": "count",
    "read_path.files_read_per_query": "count",
    "read_path.rows_scanned_per_row_returned": "ratio",
    "read_path.task_ms_per_query": "ms",
    "streaming.batch_p50_s": "s",
    "streaming.sink_p50_s": "s",
    "streaming.trigger_overhead_p50_s": "s",
    "streaming.state_bytes": "B",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.points_emitted_frac": "frac",
    "lineage.files_per_leaf": "ratio",
    "lineage.compact_tier_s": "s",
    "lineage.compact_bytes_rewritten": "B",
    "lineage.apply_retention_s": "s",
    "lineage.leaves_dropped": "count",
    "spark.task_failures": "count",
}


def session(work: Path, trace: bool, event_dir: Path):
    """The benchmark's own session: the engine's get_spark defaults, plus
    a driver that fits a small host, a fixed shuffle-partition count,
    no console progress bar, all scratch space inside ``work``."""
    from mimir_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=CPUS,
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def _stop_jvm() -> None:
    """End the JVM this process launched (and with it the Python worker
    daemon) and wait for it: the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def cpu_times() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def code_digest() -> str:
    """Digest of the engine's and the benchmark's source: untraced runs
    are recorded under it, and the traced run compares its throughput
    only with untraced runs of the same code."""
    h = hashlib.sha256()
    for path in sorted([*(ROOT / "mimir_spark").rglob("*.py"),
                        *HERE.glob("*.py")]):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="accepted; a run measures a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    if not (ROOT / "mimir_spark" / "__init__.py").is_file():
        print(f"no engine next to the benchmark: {ROOT / 'mimir_spark'} "
              "is missing", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}{'-trace' if args.trace else ''}"
    state = HERE / ".work"
    work = state / f"{tag}-{os.getpid()}"
    trace_dir = state / "traces" / tag
    (state / "logs").mkdir(parents=True, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    if args.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
        trace_dir.mkdir(parents=True)

    # stdout carries exactly the result line; everything else (ours and
    # the JVM's) goes to the log, progress also to the caller's stderr
    out_fd, err = os.dup(1), os.fdopen(os.dup(2), "w", buffering=1)
    log = open(state / "logs" / f"{tag}.log", "w", buffering=1)
    os.dup2(log.fileno(), 1)
    os.dup2(log.fileno(), 2)

    def say(msg: str) -> None:
        line = f"[perfbench {time.monotonic() - t_start:6.1f}s] {msg}"
        print(line, file=err, flush=True)
        print(line, file=log, flush=True)

    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(work / "tmp")
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        result = bench(args, work, trace_dir, say, t_start + DEADLINE_S)
    except Exception:  # noqa: BLE001 — set-up failed: no result line
        say("benchmark failed:\n" + traceback.format_exc())
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        with open(state / f"untraced-{args.workload}.jsonl", "a") as f:
            f.write(json.dumps({"code": code_digest(), "seed": args.seed,
                                **result}) + "\n")
    os.write(out_fd, (json.dumps(result) + "\n").encode())
    return 0


def bench(args, work: Path, trace_dir: Path, say, deadline: float) -> dict:
    import workloads
    from spans import Tracer

    say(f"{args.workload}: starting session local[{CPUS}]")
    cpu0 = cpu_times()
    t = time.perf_counter()
    spark = session(work, bool(args.trace), trace_dir / "eventlog")
    start_s = time.perf_counter() - t
    tracer = Tracer(spark.sparkContext)
    run = workloads.Run(spark, tracer, work, args.seed, deadline, say)
    try:
        if args.trace:
            import tour
            values = tour.tour(run, start_s)
        elif args.workload == "backfill":
            values = workloads.backfill(run, start_s)
        else:
            values = workloads.live_tail(run, start_s)
    finally:
        run.close()
        spark.stop()
        _stop_jvm()
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    say("host CPU time during the run: " + ", ".join(
        f"{n} {x / max(sum(cpu), 1):.1%}" for n, x in
        zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal"), cpu) if x))
    if args.trace:
        values = tour.fold_trace(run, values, trace_dir, args.workload,
                                 HERE / ".work", code_digest(), say)
    names = PER_LAYER if args.trace else E2E
    missing = [n for n in names if n not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    failed = sum(1 for op in run.ops if not op.ok or op.wrong)
    for label, ok in run.checks:
        say(f"check {'ok  ' if ok else 'FAIL'} {label}")
    say(f"ops {len(run.ops)} failed {failed}; " + ", ".join(
        f"{n}={values[n]:.6g}" for n in names))
    return {
        "correct": failed == 0 and all(ok for _, ok in run.checks),
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u}
                    for n, u in names.items()},
    }


if __name__ == "__main__":
    sys.exit(main())

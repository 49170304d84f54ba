"""The traced run: both workloads once, plus single-layer probes.

Every layer is timed from outside, by a span around a call into its
public function (lazy results are materialized to Spark's ``noop``
sink). Spark counters come from the session's event log, attributed to
spans by job group (``spans.fold``). The traced numbers are per-layer
evidence; end-to-end numbers come only from untraced runs.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import numpy as np

import oracle
import queries
import spans
import workloads as wl

REPS = 3  # executions of each probe and single-client query family


def _probe_layers(run, corpus: Path, v: dict) -> None:
    from pyspark.sql import functions as F

    from mimir_spark.ingest import dedup_turns, narrow_turns
    from mimir_spark.rollup import rollup_turns

    spark = run.spark

    def src():
        return spark.read.parquet(str(corpus))

    def op(name, fn, reps=1):
        return float(np.median([run.op(name, fn, wl.TIMEOUT["probe"])[0].seconds
                                for _ in range(reps)]))

    # dedup time is a difference of two probes: medians of REPS each, so
    # one slow sample cannot make it negative
    narrow = op("ingest.narrow_turns", lambda: wl._noop(narrow_turns(src())),
                REPS)
    dedup = op("ingest.dedup", lambda: wl._noop(
        dedup_turns(narrow_turns(src()).repartition(F.col("conv_id")))), REPS)
    v["ingest.narrow_turns_s"] = narrow
    v["ingest.dedup_s"] = dedup - narrow
    staged = run.work / "probe_turns"
    op("ingest.stage_turns", lambda: dedup_turns(
        narrow_turns(src()).repartition(F.col("conv_id")))
        .write.mode("overwrite").parquet(str(staged)))
    v["rollup.rollup_turns_s"] = op("rollup.rollup_turns", lambda: wl._noop(
        rollup_turns(spark.read.parquet(str(staged)),
                     shard_partitions=wl.PARTITIONS)))


def _codec_probe(store, v: dict) -> None:
    """Driver-side codec cost on a fixed sample: the first 500 1h
    chunks of the store, decoded, then re-encoded from those points."""
    from mimir_spark import codec

    tiers = {t: oracle.read_tier(store.tier_dir(t)) for t in ("1m", "1h", "1d")}
    for t, df in tiers.items():
        v[f"codec.bytes_per_point.{t}"] = \
            float(df["chunk"].map(len).sum() / df["cnt"].sum())
    chunks = tiers["1h"].sort_values(
        [*oracle.SERIES, "bucket"])["chunk"].tolist()[:500]
    dec, enc = [], []
    for _ in range(5):
        t = time.perf_counter()
        decoded = [codec.decode_all(c) for c in chunks]
        dec.append(time.perf_counter() - t)
        ts = np.concatenate([d[0] for d in decoded])
        vals = np.concatenate([d[1] for d in decoded])
        starts = np.cumsum([0] + [len(d[0]) for d in decoded[:-1]])
        t = time.perf_counter()
        codec.encode_many(ts, vals, starts)
        enc.append(time.perf_counter() - t)
    n = len(ts)
    v["codec.decode_us_per_point"] = float(np.median(dec)) / n * 1e6
    v["codec.encode_us_per_point"] = float(np.median(enc)) / n * 1e6


def _query_reps(run, store, fams, params, pts, answers: dict, v: dict) -> None:
    lat = {f.name: [] for f in fams}
    returned = 0
    for _ in range(REPS):
        for fam in fams:
            rec, rows = run.op(
                fam.name, lambda: fam.call(run.spark, store, params[0]).collect(),
                wl.TIMEOUT["query"])
            lat[fam.name].append(rec.seconds)
            if rec.ok:
                returned += len(rows)
                answers.setdefault((fam.name, 0), []).append(
                    (rec, rows, oracle.rows_digest(rows)))
    for name, xs in lat.items():
        v[f"{name}.p50_ms"] = float(np.median(xs)) * 1000
    v["_rows_returned"] = returned
    wl.check_answers(run, fams, params, pts, answers)


def _backfill_part(run, v: dict) -> None:
    fams = queries.families()
    make = wl._corpus_maker(run.work, "corpus", wl.BACKFILL, run.seed)
    table, v["bench.generate_s"] = wl.generate(run, make)
    wl.warm_nightly(run)
    store, rec, rows = wl.nightly(run, run.work / "corpus", run.work / "store")
    turns = oracle.turns(table)
    pts = oracle.points(turns)
    v["_traced_e2e"] = {"backfill": {
        "cpu_us_per_turn": rec.cpu_s / len(turns) * 1e6}}
    v["ingest.rows_kept_frac"] = len(turns) / table.num_rows
    v["lineage.files_written"], v["lineage.bytes_written"] = \
        wl._du(store.root)
    wl.check_backfill(run, store, rec, rows, turns, pts)
    _codec_probe(store, v)
    _probe_layers(run, run.work / "corpus", v)
    params = wl.query_params(run, pts, wl._dates(store.tier_dir("1m")))
    answers: dict = {}
    wl.warm_queries(run, store, fams, params, answers)
    _query_reps(run, store, fams, params, pts, answers, v)


def _live_part(run, v: dict) -> None:
    make = wl._corpus_maker(run.work, "tail", wl.TAIL, run.seed, tail=True)
    table = make()
    d = wl.drain(run, run.work / "tail", run.work / "live" / "store")
    if not d.rec.ok:
        raise RuntimeError("live tail did not drain")
    warm_end, rows, trig, sink, cpu = d.split()
    store = d.store
    pts, n_points = wl.closed_points(table)
    tier = oracle.read_tier(store.tier_dir("1m"))
    v["streaming.points_emitted_frac"] = float(tier["cnt"].sum()) / n_points
    files, _ = wl._du(store.tier_dir("1m"))
    leaves = len(list(store.tier_dir("1m").glob("p=*/bucket_date=*")))
    v["lineage.files_per_leaf"] = files / leaves
    crecs, c = wl.consolidate(run, store)
    v["lineage.compact_tier_s"], v["lineage.apply_retention_s"] = \
        (r.seconds for r in crecs)
    v["lineage.leaves_dropped"] = c["dropped"]
    v["lineage.compact_bytes_rewritten"] = wl._du(store.tier_dir("1h"))[1]
    v["streaming.batch_p50_s"] = float(np.median(trig))
    v["streaming.sink_p50_s"] = float(np.median(sink))
    v["streaming.trigger_overhead_p50_s"] = float(
        np.median(np.subtract(trig, sink)))
    v["streaming.state_bytes"] = max(
        (sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators", []))
         for p in d.progress), default=0)
    v["streaming.rows_dropped_by_watermark"] = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in d.progress for o in p.get("stateOperators", []))
    v["_traced_e2e"]["live_tail"] = {"cpu_us_per_turn": (
        sum(cpu) + sum(r.cpu_s for r in crecs)) / rows * 1e6}
    wl.check_live(run, store, tier, [d.rec, *crecs], pts, c["since"])


def tour(run, start_s: float) -> dict:
    v = {"session.start_s": start_s}
    _backfill_part(run, v)
    _live_part(run, v)
    return v


def _group(table: dict, name: str) -> list[dict]:
    return [r for r in table.values() if r["name"] == name]


def _last(table: dict, name: str) -> dict:
    """The last span of ``name`` to end: for the nightly's spans, the
    measured nightly's, not the warm-up's."""
    return _group(table, name)[-1]


def fold_trace(run, v: dict, trace_dir: Path, workload: str, state: Path,
               code: str, say) -> dict:
    """Fold the event log into the per-layer metrics, write the traced
    run's folder and print the table with the tracing overhead against
    the untraced runs of the same ``code``."""
    ev = spans.load_events(trace_dir / "eventlog")
    run.tracer.dump(trace_dir / "spans.json")
    table = spans.fold(run.tracer.spans, ev)
    m = lambda r, k: r["metrics"].get(k, 0.0)  # noqa: E731

    dedup = _group(table, "ingest.dedup")[0]
    v["ingest.shuffle_write_bytes"] = m(dedup, "internal.metrics.shuffle.write.bytesWritten")
    roll = _group(table, "rollup.rollup_turns")[0]
    # a share of task time: Spark counts sort time in whole ms, so the
    # bare figure can repeat exactly from run to run
    v["rollup.sort_frac"] = m(roll, "sort time") / m(
        roll, "internal.metrics.executorRunTime")
    v["rollup.python_bytes_sent"] = m(roll, "data sent to Python workers")
    v["rollup.python_bytes_received"] = m(roll, "data returned from Python workers")
    v["rollup.spill_bytes"] = (m(roll, "internal.metrics.memoryBytesSpilled")
                               + m(roll, "internal.metrics.diskBytesSpilled"))
    v["rollup.sketch_tier_s"] = _last(table, "rollup.sketch_tier")["dur_s"]
    v["histogram.hist_tier_s"] = _last(table, "histogram.hist_tier")["dur_s"]

    job_row = _last(table, "lineage.run_rollup_job")
    job_span = [s for s in run.tracer.spans
                if s["name"] == "lineage.run_rollup_job"][-1]
    split = spans.split_by_writes(job_span, ev, job_row)
    v["lineage.run_rollup_job_s"] = job_row["dur_s"]
    v["lineage.stage_write_s"] = split["first_write_s"]
    v["lineage.store_write_s"] = split["second_write_s"]
    v["lineage.stats_pass_s"] = split["after_writes_s"]
    v["lineage.driver_only_s"] = split["driver_only_s"]
    v["lineage.spark_jobs"] = len(job_row["jobs"])
    split_sum = sum(split.values())
    say(f"run_rollup_job split: {split} sums to {split_sum:.3f} s of "
        f"{job_row['dur_s']:.3f} s ({split_sum / job_row['dur_s']:.1%})")

    qs = [r for r in table.values() if r["name"] in
          {f.name for f in queries.families()}]
    n = len(qs)
    v["read_path.driver_ms_per_query"] = sum(r["driver_only_s"] for r in qs) / n * 1000
    v["read_path.spark_jobs_per_query"] = sum(len(r["jobs"]) for r in qs) / n
    v["read_path.files_read_per_query"] = sum(m(r, "number of files read") for r in qs) / n
    v["read_path.rows_scanned_per_row_returned"] = sum(
        m(r, "internal.metrics.input.recordsRead") for r in qs) / max(
        v.pop("_rows_returned"), 1)
    v["read_path.task_ms_per_query"] = sum(
        m(r, "internal.metrics.executorRunTime") for r in qs) / n
    v["spark.task_failures"] = ev["task_failures"]

    by_name: dict = {}
    for r in table.values():
        a = by_name.setdefault(r["name"], {"spans": 0, "dur_s": 0.0,
                                           "self_s": 0.0, "driver_only_s": 0.0,
                                           "spark_jobs": 0})
        a["spans"] += 1
        a["dur_s"] += r["dur_s"]
        a["self_s"] += r["self_s"]
        a["driver_only_s"] += r["driver_only_s"]
        a["spark_jobs"] += len(r["jobs"])
    traced = v.pop("_traced_e2e")
    overhead = {}
    for w, vals in traced.items():
        path = state / f"untraced-{w}.jsonl"
        records = [json.loads(line) for line in path.read_text().splitlines()
                   if line.strip()] if path.exists() else []
        base = [r["metrics"]["cpu_us_per_turn"]["value"] for r in records
                if r.get("code") == code]
        if base:
            untraced = float(np.median(base))
            overhead[w] = {"untraced_cpu_us_per_turn": untraced,
                           "traced_cpu_us_per_turn": vals["cpu_us_per_turn"],
                           "overhead_frac": vals["cpu_us_per_turn"] / untraced - 1}
        else:
            overhead[w] = {"traced_cpu_us_per_turn": vals["cpu_us_per_turn"],
                           "overhead_frac": None}
    (trace_dir / "layers.json").write_text(json.dumps(
        {"workload": workload, "seed": run.seed, "metrics": v,
         "spans_by_name": by_name, "run_rollup_job_split": split,
         "tracing_overhead": overhead}, indent=1))
    say(f"{'span':42s} {'n':>3s} {'total s':>8s} {'self s':>8s} "
        f"{'driver s':>8s} {'jobs':>5s}")
    for name, a in sorted(by_name.items(), key=lambda kv: -kv[1]["dur_s"]):
        say(f"{name:42s} {a['spans']:3d} {a['dur_s']:8.2f} {a['self_s']:8.2f} "
            f"{a['driver_only_s']:8.2f} {a['spark_jobs']:5d}")
    for w, o in overhead.items():
        frac = o["overhead_frac"]
        say(f"tracing overhead, {w} CPU us/turn: " + (
            f"{frac:+.1%} (traced {o['traced_cpu_us_per_turn']:.1f} vs "
            f"untraced median {o['untraced_cpu_us_per_turn']:.1f})"
            if frac is not None
            else "no untraced run of this code recorded in this checkout"))
    return v

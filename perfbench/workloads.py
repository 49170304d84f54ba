"""The two workloads, built from ops on a shared ``Run``.

``backfill``: the nightly ``rollup_job --histogram 1h --distinct-sketch
1h:conv_id`` shape over a generated corpus into an empty store, on a JVM
that a small nightly has warmed up, then single-client dashboard
queries over that store.

``live_tail``: a ts-ordered corpus drained one file per micro-batch by
the sharded streaming writer into an empty 1m tier, then the nightly
consolidation (compact 1m->1h for the last dates, retention).

All engine calls go through ``Run.op``: a span (job group) per call, a
timeout that counts as a failed op, and no retry. Each op records its
wall time and the CPU time the benchmark's process tree spent in it.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

import gen
import oracle
import queries

# corpora: (conversations drawn, rows kept). Cutting every seed's corpus
# to the same row count keeps the input size, and with it the time of a
# run, from varying with the seed (the drawn sizes vary by about 5%).
BACKFILL = (3300, 50_000)
WARM = (300, 5_000)    # the warm-up nightly's corpus
TAIL = (1400, 20_000)
SPAN_DAYS = 3.0        # conversations start uniformly over this many days
TAIL_FILES = 6         # one micro-batch each
TAIL_WARM_BATCHES = 1  # the first batch warms the stream up (set-up)
PARTITIONS = 4         # rollup_job --partitions
STATE_SHARDS = 64      # stream_job --state-shards
PARAM_SETS = 2         # parameter sets per query family
GEN_REPEATS = 3
TIMEOUT = {"nightly": 100, "drain": 100, "consolidate": 40, "query": 30,
           "probe": 40}


@dataclass
class Op:
    name: str
    ok: bool = True
    wrong: bool = False
    seconds: float = 0.0
    cpu_s: float = 0.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the JVM and its Python workers), children already reaped included.
    Time the host gives to other machines (steal) is not in it."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended meanwhile
            continue
        # fields after the command name: state, ppid, ... utime (11),
        # stime, cutime, cstime (14)
        x = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(x[1]), sum(int(v) for v in x[11:15]))
    children: dict = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks * _TICK_S


@dataclass
class Run:
    spark: object
    tracer: object
    work: Path
    seed: int
    deadline: float
    say: object
    ops: list = field(default_factory=list)
    checks: list = field(default_factory=list)

    def __post_init__(self):
        self._lock = threading.Lock()
        self._running: dict = {}
        self._stop = threading.Event()
        self._watchdog = threading.Thread(target=self._watch, daemon=True)
        self._watchdog.start()

    def _watch(self):
        sc = self.spark.sparkContext
        while not self._stop.wait(0.25):
            now = time.monotonic()
            with self._lock:
                late = [g for g, d in self._running.items() if now > d]
                for g in late:
                    del self._running[g]
            for g in late:
                self.say(f"timeout: cancelling {g}")
                sc.cancelAllJobs()

    def close(self):
        self._stop.set()
        self._watchdog.join(5)

    def op(self, name: str, fn, timeout: float):
        """Run one engine call as an op. Ops run one at a time, so a
        timeout cancels every job (nested spans use their own job
        groups)."""
        rec = Op(name)
        with self.tracer.span(name) as group:
            with self._lock:
                self._running[group] = time.monotonic() + timeout
            t, cpu = time.perf_counter(), tree_cpu_s()
            try:
                value = fn()
            except Exception as e:  # noqa: BLE001 — a failed op, reported
                self.say(f"op {name} failed: {type(e).__name__}: "
                         f"{str(e).splitlines()[0][:300] if str(e) else ''}")
                rec.ok, value = False, None
            rec.seconds = time.perf_counter() - t
            rec.cpu_s = tree_cpu_s() - cpu
            with self._lock:
                self._running.pop(group, None)
        self.ops.append(rec)
        return rec, value

    def check(self, label: str, ok: bool, *recs: Op) -> None:
        """Record an answer check; a wrong answer fails its ops."""
        self.checks.append((label, bool(ok)))
        if not ok:
            self.say(f"CHECK FAILED: {label}")
            for r in recs:
                r.wrong = True


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(root: Path, pattern: str = "**/*") -> tuple[int, int]:
    files = [p for p in root.glob(pattern) if p.is_file()
             and not p.name.startswith(".") and not p.name.endswith(".crc")]
    return len(files), sum(p.stat().st_size for p in files)


def _dates(tier_dir: Path) -> list[str]:
    return sorted({p.name.split("=", 1)[1]
                   for p in tier_dir.glob("p=*/bucket_date=*")})


def generate(run: Run, make) -> tuple[object, float]:
    """Generate the inputs ``GEN_REPEATS`` times; median seconds."""
    times, out = [], None
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        out = make()
        times.append(time.perf_counter() - t)
    return out, float(np.median(times))


# -- backfill ------------------------------------------------------------

def nightly(run: Run, corpus: Path, root: Path, name: str = "backfill.nightly"):
    """The rollup_job nightly: resumable job (staging kept), histogram and
    distinct-sketch tiers from the staged turns, staging cleanup."""
    from mimir_spark.histogram import rollup_histogram
    from mimir_spark.ingest import turn_metrics
    from mimir_spark.lineage import TieredStore, run_rollup_job
    from mimir_spark.rollup import rollup_distinct_sketch

    spark, span = run.spark, run.tracer.span
    store = TieredStore(root)

    def body():
        with span("lineage.run_rollup_job"):
            rows = run_rollup_job(
                spark, lambda: spark.read.parquet(str(corpus)), store,
                "nightly", num_partitions=PARTITIONS, keep_staging=True)
        stage = store.turns_staging_dir("nightly")
        pts = turn_metrics(spark.read.parquet(stage))
        with span("histogram.hist_tier"):
            store.write_hist_tier(rollup_histogram(pts, "1h"), "1h")
        with span("rollup.sketch_tier"):
            store.write_sketch_tier(
                rollup_distinct_sketch(pts, "1h", distinct_col="conv_id"), "1h")
        store.cleanup_staging(stage)
        return rows

    rec, rows = run.op(name, body, TIMEOUT["nightly"])
    return store, rec, rows


def check_backfill(run: Run, store, rec: Op, rows, turns, pts) -> None:
    from mimir_spark import codec

    rows_in = sum(r["rows_in"] for r in rows or [])
    run.check("lineage rows_in == deduped turns", rows_in == len(turns), rec)
    got = oracle.read_tier(store.tier_dir("1h"))
    want = oracle.aggregate(pts, oracle.TIER_US["1h"])
    keys = [*oracle.SERIES, "bucket"]
    # a conversation's series live in its shard: one row per bucket
    conv_g, conv_w = got[got["kind"] == "conv"], want[want["kind"] == "conv"]
    run.check("1h conv series == reference aggregates and chunks",
              oracle.diff_rows(conv_g, conv_w, keys,
                               [*oracle.AGG_COLS, "chunk"]) == 0, rec)
    # a tool series has one partial per conversation shard: merge them
    tool = oracle.merge_partials(got[got["kind"] == "tool"], keys)
    want_tool = oracle.merge_partials(want[want["kind"] == "tool"], keys)
    run.check("1h tool series == reference after merging shard partials",
              oracle.diff_rows(tool, want_tool, keys,
                               ["cnt", "sum_v", "min_v", "max_v", "points"]) == 0,
              rec)
    m1 = oracle.read_tier(store.tier_dir("1m"))
    rng = np.random.default_rng(run.seed)
    ok = len(m1) > 0
    for i in rng.choice(len(m1), size=min(200, len(m1)), replace=False):
        ts, v = codec.decode_all(m1.at[i, "chunk"])
        ok &= len(ts) == m1.at[i, "cnt"] and float(v.sum()) == m1.at[i, "sum_v"]
    run.check("sampled 1m chunks decode to cnt points summing to sum_v", ok, rec)


# -- live tail -----------------------------------------------------------

@dataclass
class Drain:
    """One drain of the live tail. Times are ``perf_counter`` readings:
    the driver's monotonic clock, where the JVM's progress durations use
    the wall clock, which jumps when the host stalls the machine."""
    store: object
    rec: Op
    progress: list
    start: float = 0.0   # query started
    end: float = 0.0     # query drained
    # batch id -> (sink call, sink return, process-tree CPU s at return)
    sink: dict = field(default_factory=dict)

    def split(self):
        """Split at the end of the warm-up batches: (warm-up end, rows
        after it, and for each later batch with input its latency, from
        the previous batch's sink return to its own, its sink time, and
        the CPU time between the two returns)."""
        rows_of = {p["batchId"]: p["numInputRows"] for p in self.progress}
        ids = sorted(self.sink)
        lat, sink, cpu = [], [], []
        for prev, b in zip(ids, ids[1:]):
            if b >= TAIL_WARM_BATCHES and rows_of.get(b):
                lat.append(self.sink[b][1] - self.sink[prev][1])
                sink.append(self.sink[b][1] - self.sink[b][0])
                cpu.append(self.sink[b][2] - self.sink[prev][2])
        rows = sum(n for b, n in rows_of.items() if b >= TAIL_WARM_BATCHES)
        return self.sink[TAIL_WARM_BATCHES - 1][1], rows, lat, sink, cpu


def drain(run: Run, src: Path, root: Path) -> Drain:
    """Drain ``src`` one file per micro-batch into an empty 1m tier."""
    from mimir_spark.lineage import TieredStore
    from mimir_spark.streaming.rollup_stream import (chunk_store_sink,
                                                     streaming_rollup_chunks)

    spark = run.spark
    d = Drain(TieredStore(root), None, [])
    inner = chunk_store_sink(d.store, "1m", app_id="live")

    def sink(df, batch_id):
        t = time.perf_counter()
        inner(df, batch_id)
        d.sink[batch_id] = (t, time.perf_counter(), tree_cpu_s())

    def body():
        stream = (spark.readStream.schema(gen.SPARK_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        d.start = time.perf_counter()
        q = (streaming_rollup_chunks(stream, "1m", shards=STATE_SHARDS)
             .writeStream.outputMode("append").foreachBatch(sink)
             .option("checkpointLocation", str(root.parent / "checkpoint"))
             .trigger(availableNow=True).start())
        try:
            if not q.awaitTermination(TIMEOUT["drain"]):
                raise TimeoutError("stream did not drain")
            d.end = time.perf_counter()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        finally:
            q.stop()
        return q.recentProgress

    d.rec, progress = run.op("streaming.drain", body, TIMEOUT["drain"] + 10)
    d.progress = progress or []
    return d


def consolidate(run: Run, store):
    """The nightly consolidation of a streamed tier: compact 1m->1h from
    the third date on (the last busy date and the tail after it), then
    retention keeps 1m from that date on."""
    from mimir_spark.lineage import apply_retention

    dates = _dates(store.tier_dir("1m"))
    since = dates[min(2, len(dates) - 1)]
    keep = f"{len(dates) - dates.index(since)}d"
    rec, _ = run.op("lineage.compact_tier", lambda: store.compact_tier(
        run.spark, "1m", "1h", since=since), TIMEOUT["consolidate"])
    rrec, dropped = run.op("lineage.apply_retention", lambda: apply_retention(
        store, {"1m": keep}, as_of=dates[-1]), TIMEOUT["consolidate"])
    return [rec, rrec], {
        "since": since, "dates": dates,
        "dropped": sum(len(v) for v in (dropped or {}).values())}


def closed_points(table, watermark_delay_us: int = 600_000_000):
    """Reference points of the buckets the final watermark closed."""
    turns = oracle.turns(table)
    pts = oracle.points(turns)
    wm = int(turns["ts"].max()) - watermark_delay_us
    unit = oracle.TIER_US["1m"]
    return pts[(pts["ts"] - pts["ts"] % unit) + unit <= wm], len(pts)


def check_live(run: Run, store, m1, recs, pts, since: str) -> None:
    """Every bucket the final watermark closed equals the batch
    reference: in the 1m tier as drained (``m1``), and in the compacted
    1h tier on the dates from ``since`` on."""
    keys = [*oracle.SERIES, "bucket"]
    cols = [*oracle.AGG_COLS, "chunk"]
    run.check("streamed 1m tier == batch reference on closed buckets",
              oracle.diff_rows(m1, oracle.aggregate(pts, oracle.TIER_US["1m"]),
                               keys, cols) == 0, *recs)
    lo = int(pd.Timestamp(since).value // 1000)
    got = oracle.read_tier(store.tier_dir("1h"))
    want = oracle.aggregate(pts[pts["ts"] >= lo], oracle.TIER_US["1h"])
    run.check("compacted 1h tier == batch reference on the compacted dates",
              oracle.diff_rows(got[got["bucket"] >= lo], want, keys, cols) == 0,
              *recs)


# -- dashboard burst -------------------------------------------------------

def query_params(run: Run, pts, days):
    rng = np.random.default_rng([run.seed, 7])
    return queries.draw_params(pts, days, rng, PARAM_SETS)


def burst(run: Run, store, fams, params, answers: dict,
          name_suffix: str = "") -> list:
    """Closed loop, one client: each query is sent when the previous one
    returned, over one pass of the (parameter set, family) grid, so every
    run measures the same mix. Answers are appended to ``answers`` by
    (family, parameter set); the ops are returned."""
    recs = []
    for i in range(len(params)):
        for fam in fams:
            if time.monotonic() >= run.deadline:
                return recs
            rec, rows = run.op(
                fam.name + name_suffix,
                lambda: fam.call(run.spark, store, params[i]).collect(),
                TIMEOUT["query"])
            recs.append(rec)
            if rec.ok:
                answers.setdefault((fam.name, i), []).append(
                    (rec, rows, oracle.rows_digest(rows)))
    return recs


def check_answers(run: Run, fams, params, pts, answers) -> None:
    by_name = {f.name: f for f in fams}
    for (name, i), got in sorted(answers.items(), key=lambda kv: kv[0]):
        fam = by_name[name]
        first_rec, first_rows, first_digest = got[0]
        run.check(f"{name}[{i}] == reference",
                  fam.check(first_rows, fam.ref(pts, params[i])), first_rec)
        for rec, _, digest in got[1:]:
            run.check(f"{name}[{i}] repeat identical", digest == first_digest,
                      rec)


def warm_queries(run: Run, store, fams, params, answers: dict) -> float:
    """Set-up: each family once on the first parameter set. Its answers
    are the ones checked against the reference; the measured pass must
    repeat them."""
    t = time.perf_counter()
    burst(run, store, fams, params[:1], answers, name_suffix=".warmup")
    return time.perf_counter() - t


def warm_nightly(run: Run) -> float:
    """Set-up: the whole nightly once over a small corpus of its own, so
    the measured nightly finds the JVM's code compiled and the Python
    workers started."""
    _corpus_maker(run.work, "warmup", WARM, run.seed)()
    _, rec, _ = nightly(run, run.work / "warmup", run.work / "warmup-store",
                        "backfill.warmup")
    return rec.seconds


# -- the two untraced workloads ------------------------------------------

def _corpus_maker(work: Path, name: str, size: tuple[int, int], seed: int,
                  tail: bool = False):
    n_conv, rows = size

    def make():
        table = gen.corpus(n_conv, seed, span_days=SPAN_DAYS).slice(0, rows)
        if tail:
            gen.write_tail(table, work / name, TAIL_FILES)
        else:
            gen.write_corpus(table, work / name)
        return table
    return make


def _store_bytes(root: Path) -> int:
    return sum(_du(root, f"{d}=*/**/*")[1] for d in ("tier", "hist", "sketch"))


def _gmean_ms(xs_s) -> float:
    """Geometric mean in ms: every op of the fixed mix weighs the same,
    whatever its family's typical cost."""
    return float(np.exp(np.log(np.asarray(xs_s, dtype=float)).mean())) * 1000


def _ms(xs_s) -> str:
    return " ".join(f"{x * 1000:.0f}" for x in xs_s)


def backfill(run: Run, start_s: float) -> dict:
    """Set-up: session, corpus, a warm-up nightly. Measured: the nightly
    into an empty store, then the dashboard queries after one warm pass
    of the mix."""
    fams = queries.families()
    table, gen_s = generate(run, _corpus_maker(run.work, "corpus", BACKFILL,
                                                run.seed))
    warm_s = warm_nightly(run)
    store, rec, rows = nightly(run, run.work / "corpus", run.work / "store")
    turns = oracle.turns(table)
    pts = oracle.points(turns)
    params = query_params(run, pts, _dates(store.tier_dir("1m")))
    answers: dict = {}
    qwarm_s = warm_queries(run, store, fams, params, answers)
    qs = burst(run, store, fams, params, answers)
    if not qs:
        raise RuntimeError("no query completed")
    values = {"setup_s": start_s + gen_s + warm_s + qwarm_s,
              "cpu_us_per_turn": rec.cpu_s / len(turns) * 1e6,
              "store_bytes_per_turn": _store_bytes(store.root) / len(turns),
              "op_cpu_ms": _gmean_ms([q.cpu_s for q in qs])}
    run.say(f"backfill: {len(turns)} turns in {rec.seconds:.2f} s wall, "
            f"{rec.cpu_s:.2f} s CPU; {len(qs)} queries; set-up "
            f"{values['setup_s']:.1f} s (session {start_s:.1f}, generate "
            f"{gen_s:.2f}, warm-up nightly {warm_s:.1f}, query warm-up "
            f"{qwarm_s:.1f})")
    run.say(f"query wall ms: {_ms(q.seconds for q in qs)}; "
            f"geometric mean {_gmean_ms([q.seconds for q in qs]):.0f}")
    run.say(f"query CPU ms: {_ms(q.cpu_s for q in qs)}")
    check_backfill(run, store, rec, rows, turns, pts)
    check_answers(run, fams, params, pts, answers)
    return values


def live_tail(run: Run, start_s: float) -> dict:
    """Set-up: session, tail files, the stream's first micro-batch.
    Measured: the remaining micro-batches and the consolidation."""
    table, gen_s = generate(run, _corpus_maker(run.work, "tail", TAIL,
                                                run.seed, tail=True))
    d = drain(run, run.work / "tail", run.work / "live" / "store")
    if not d.rec.ok:
        raise RuntimeError("live tail did not drain")
    warm_end, rows, lat, _, cpu = d.split()
    store_bytes = _store_bytes(d.store.root)
    m1 = oracle.read_tier(d.store.tier_dir("1m"))
    recs, c = consolidate(run, d.store)
    n_turns = len(oracle.turns(table))
    values = {
        "setup_s": start_s + gen_s + (warm_end - d.start),
        "cpu_us_per_turn": (sum(cpu) + sum(r.cpu_s for r in recs)) / rows * 1e6,
        "store_bytes_per_turn": store_bytes / n_turns,
        "op_cpu_ms": _gmean_ms(cpu)}
    run.say(f"live_tail: {rows} rows after {TAIL_WARM_BATCHES} warm-up "
            f"batch(es) ({warm_end - d.start:.1f} s); batch wall ms {_ms(lat)}, "
            f"CPU ms {_ms(cpu)}; compaction {recs[0].seconds:.2f} s wall, "
            f"{recs[0].cpu_s:.2f} s CPU; retention {recs[1].seconds:.3f} s")
    pts, _ = closed_points(table)
    check_live(run, d.store, m1, [d.rec, *recs], pts, c["since"])
    return values

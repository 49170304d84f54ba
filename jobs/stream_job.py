"""spark-submit entry point for CONTINUOUS transcript ingest.

The streaming third of the job triad (rollup_job = batch build,
compact_job = maintenance): tails a growing transcripts source and
merges closed buckets into the same TieredStore the batch pipeline
maintains — Gorilla chunk rows via the stateful writer, optional HLL
distinct sketches via the sketch sink. Mirrors the reference's
continuous-ingest design (MimirIndex.java:130-139,611-628: RAM batch
-> searchable at sync-to-disk, the watermark playing the flush
timer); the batch cascade repairs the late tail at compaction, like
its LSM merge.

Usage (cluster):
    spark-submit --py-files /tmp/mimir_spark.zip jobs/stream_job.py \
        --source /data/incoming --store /data/store --tier 1m \
        --checkpoint /data/ckpt --app-id prod-ingest

    --once processes everything currently available and exits
    (Trigger.AvailableNow) — cron-friendly micro-batch ingest and the
    mode the tests drive; omit it for an always-on stream.

Recovery contract (see sketch_store_sink): restarting with the SAME
checkpoint + app-id is exactly-once; wiping the checkpoint replays
the source, so pass a fresh --app-id AND start from a fresh/cleared
store tier.
"""

from __future__ import annotations

import argparse
import pathlib
import sys
from urllib.parse import urlsplit

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def _print_status(store_root: str) -> int:
    """--status: per-tier streaming lineage from the _streaming sidecar
    — applied-batch ledgers plus per-(app, batch, date) ingest metrics
    (rows in, points out, bytes compressed). Pure filesystem; no Spark.
    The streaming analogue of ``rollup_job --status``."""
    import json

    from mimir_spark.streaming.rollup_stream import read_stream_metrics

    streaming = pathlib.Path(store_root) / "_streaming"
    out = {"store": store_root, "tiers": {}}
    for side in sorted(streaming.glob("tier=*")) + \
            sorted(streaming.glob("sketch=*")) + \
            sorted(streaming.glob("hist=*")):
        if not side.is_dir():
            continue
        dates: dict = {}
        for m in read_stream_metrics(side):
            d = dates.setdefault(m["date"], {"batches": 0})
            d["batches"] += 1
            for k, v in m.items():
                if k not in ("app", "batch", "date"):
                    d[k] = d.get(k, 0) + v
        applied = {led.name.split("=", 1)[1].removesuffix(".json"):
                   len(json.loads(led.read_text()))
                   for led in sorted(side.glob("bucket_date=*.json"))}
        for d, n in applied.items():
            dates.setdefault(d, {"batches": n})["applied_entries"] = n
        totals: dict = {}
        for d in dates.values():
            for k, v in d.items():
                totals[k] = totals.get(k, 0) + v
        out["tiers"][side.name] = {"dates": dates, "totals": totals}
    print(json.dumps(out), flush=True)
    return 0


def checkpoint_location(root: str, name: str) -> str:
    """Query ``name``'s checkpoint dir under ``root``, joined as
    strings: pathlib would fold ``hdfs://nn:8020/ck`` into
    ``hdfs:/nn:8020/ck``."""
    return f"{root.rstrip('/')}/{name}"


def pick_checkpoint_manager(spark, root: str) -> None:
    """get_spark routes checkpoint files through Hadoop's FileSystem
    API, whose check-then-rename on ``file:`` is what FileContext does
    there too. On other schemes (HDFS) FileContext's non-overwriting
    rename is atomic, so a checkpoint there gets Spark's default
    manager back."""
    from mimir_spark.session import CHECKPOINT_MANAGER_KEY

    if urlsplit(root).scheme not in ("", "file"):
        spark.conf.unset(CHECKPOINT_MANAGER_KEY)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source",
                    help="parquet directory to tail (columns: conv_id,"
                         " turn_idx, role, text, tool, ts); required "
                         "unless --status")
    ap.add_argument("--store", required=True, help="tier store root")
    ap.add_argument("--tier", default="1m", choices=["1m", "1h", "1d"])
    ap.add_argument("--watermark", default="10 minutes",
                    help="event-time lateness bound; later rows wait "
                         "for the batch cascade's late-tail repair")
    ap.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir (default: "
                         "<store>/_streaming/checkpoint-<tier>)")
    ap.add_argument("--app-id", default="stream",
                    help="logical stream incarnation for the sink "
                         "ledgers (change it together with a fresh "
                         "checkpoint + fresh tier)")
    ap.add_argument("--partitions", type=int, default=8,
                    help="shard count for the chunk tier layout")
    ap.add_argument("--state-shards", type=int, default=64,
                    help="stateful-writer hash shards (one columnar "
                         "state buffer per shard — O(shards) handler "
                         "calls per micro-batch instead of one per "
                         "open series; >= 1). Python worker "
                         "invocations per micro-batch stay 2 x the "
                         "state partitions (the checkpoint's "
                         "spark.sql.shuffle.partitions)")
    ap.add_argument("--distinct-sketch", default="",
                    help="also maintain an HLL distinct sketch tier "
                         "over this column (e.g. conv_id)")
    ap.add_argument("--histogram", action="store_true",
                    help="also maintain a quantile-histogram tier "
                         "over the point values (serves query_job "
                         "'quantile')")
    ap.add_argument("--hist-alpha", type=float, default=None,
                    help="relative-error target for --histogram bins "
                         "(default 0.01)")
    ap.add_argument("--no-chunks", action="store_true",
                    help="skip the Gorilla chunk sink and run only "
                         "the cheap windowed tiers (--distinct-sketch "
                         "/ --histogram) — the continuous-dashboard "
                         "mode when raw-sample chunks are the nightly "
                         "batch job's business")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--valid-from", default=None, metavar="TS",
                    help="drop rows with event time before TS")
    ap.add_argument("--valid-until", default=None, metavar="TS",
                    help="drop rows with event time after TS — one "
                         "corrupt far-future timestamp would otherwise "
                         "advance the watermark and silently late-drop "
                         "every sane row behind it")
    ap.add_argument("--once", action="store_true",
                    help="drain what is available now, then exit")
    ap.add_argument("--status", action="store_true",
                    help="print per-tier streaming lineage (applied "
                         "batches + per-date ingest metrics) and exit")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    if args.status:
        return _print_status(args.store)
    if not args.source:
        ap.error("--source is required unless --status")
    if args.state_shards < 1:
        ap.error("--state-shards must be >= 1")

    from mimir_spark.fixtures import TRANSCRIPT_SCHEMA_NTZ
    from mimir_spark.lineage import TieredStore
    from mimir_spark.session import get_spark
    from mimir_spark.streaming.rollup_stream import (
        chunk_store_sink, hist_store_sink, sketch_store_sink,
        streaming_distinct_sketch, streaming_histogram,
        streaming_rollup_chunks, valid_event_time)

    if args.hist_alpha is not None and not args.histogram:
        ap.error("--hist-alpha without --histogram")

    spark = get_spark("stream-job", cpus=args.cpus)
    store = TieredStore(args.store)
    ckpt_root = args.checkpoint or \
        str(store.root / "_streaming" / f"checkpoint-{args.tier}")
    pick_checkpoint_manager(spark, ckpt_root)

    def reader():
        r = spark.readStream.schema(TRANSCRIPT_SCHEMA_NTZ)
        if args.max_files_per_trigger:
            r = r.option("maxFilesPerTrigger",
                         args.max_files_per_trigger)
        return valid_event_time(r.parquet(args.source),
                                args.valid_from, args.valid_until)

    def start(df, sink, name):
        w = (df.writeStream.outputMode("append").foreachBatch(sink)
             .option("checkpointLocation",
                     checkpoint_location(ckpt_root, name))
             .queryName(name))
        if args.once:
            w = w.trigger(availableNow=True)
        return w.start()

    if args.no_chunks and not (args.distinct_sketch or args.histogram):
        ap.error("--no-chunks leaves nothing to run (add "
                 "--distinct-sketch and/or --histogram)")
    queries = []
    if not args.no_chunks:
        queries.append(start(
            streaming_rollup_chunks(reader(), tier=args.tier,
                                    watermark=args.watermark,
                                    shards=args.state_shards),
            chunk_store_sink(store, args.tier, app_id=args.app_id,
                             num_partitions=args.partitions),
            "chunks"))
    if args.distinct_sketch:
        queries.append(start(
            streaming_distinct_sketch(reader(), tier=args.tier,
                                      watermark=args.watermark,
                                      distinct_col=args.distinct_sketch),
            sketch_store_sink(store, args.tier, app_id=args.app_id),
            "sketch"))
    if args.histogram:
        queries.append(start(
            streaming_histogram(reader(), tier=args.tier,
                                watermark=args.watermark,
                                alpha=args.hist_alpha),
            hist_store_sink(store, args.tier, app_id=args.app_id),
            "hist"))

    for q in queries:
        q.awaitTermination()
    for q in queries:
        print(f"stream {q.name}: stopped "
              f"(last progress: {q.lastProgress and q.lastProgress.get('numInputRows')} rows)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

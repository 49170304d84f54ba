"""Streaming rollup: continuous ingest with bounded visibility latency.

The reference is continuously ingesting and searchable — docs become
visible at sync-to-disk, driven by an occurrence budget or a timer
(MimirIndex.java:130-139,611-628; IndexConfig.java:229-237). The Spark
mapping is Structured Streaming:

- micro-batch trigger            <-> timeBetweenBatches flush timer
- watermark + append output      <-> batch becomes immutable at flush
- dedup within watermark         <-> duplicate-position suppression
  (AtomicIndex.java:245-254)
- foreachBatch MERGE into tiers  <-> tail batch added to the cluster view

Late data past the watermark is dropped from streaming aggregates;
the batch cascade (rollup.cascade) re-folds them at compaction time —
the same late-tail repair role the LSM compact plays in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ingest import token_count_col
from ..rollup import TIER_TRUNC


def stream_turn_metrics(stream: DataFrame) -> DataFrame:
    """Per-turn metric explode for a streaming transcripts source
    (same rules as ingest.turn_metrics; streaming-safe expressions)."""
    tok = token_count_col().cast("double")
    entry = lambda kind, key, metric, v: F.struct(  # noqa: E731
        kind.alias("kind"), key.alias("series_key"),
        metric.alias("metric"), v.alias("v"),
    )
    conv = F.col("conv_id")
    role_name = (
        F.when(F.col("role").isin("user", "assistant", "tool"),
               F.concat(F.lit("role_mix_"), F.col("role")))
        .otherwise(F.lit("role_mix_other"))
    )
    entries = F.array(
        entry(F.lit("conv"), conv, F.lit("turn_rate"), F.lit(1.0)),
        entry(F.lit("conv"), conv, F.lit("token_volume"), tok),
        entry(F.lit("conv"), conv, role_name,
              F.when(F.col("role").isNotNull(), F.lit(1.0))),
        entry(F.lit("tool"), F.col("tool"), F.lit("turn_rate"),
              F.when(F.col("tool").isNotNull(), F.lit(1.0))),
        entry(F.lit("tool"), F.col("tool"), F.lit("token_volume"),
              F.when(F.col("tool").isNotNull(), tok)),
    )
    return (
        stream.select(F.explode(entries).alias("e"), "ts", "conv_id", "turn_idx")
        .filter(F.col("e.v").isNotNull() & F.col("e.series_key").isNotNull())
        .select("e.kind", "e.series_key", "e.metric", "ts", "conv_id",
                "turn_idx", "e.v")
    )


def _as_event_time(stream: DataFrame) -> DataFrame:
    """Watermarks require TimestampType, but a tz-naive source column
    (TIMESTAMP_NTZ — what batch reads infer from the fixture parquet)
    must not pick up the session timezone on the way in, or every
    bucket boundary and the watermark itself would shift with the
    driver's tz. Reinterpret: instant whose epoch micros EQUAL the
    naive micros, computed from the NTZ FIELDS (unix_date + hour/min/
    second extraction) — pure arithmetic, no wall<->instant conversion
    anywhere, so it cannot be bitten by DST gap/overlap walls the way
    a cast + from_utc_timestamp round trip can."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(stream.schema["ts"].dataType, TimestampNTZType):
        epoch_us = (
            F.unix_date(F.col("ts").cast("date"))
            .cast("long") * F.lit(86_400_000_000)
            + F.expr("extract(HOUR FROM ts)").cast("long")
            * F.lit(3_600_000_000)
            + F.expr("extract(MINUTE FROM ts)").cast("long")
            * F.lit(60_000_000)
            # SECOND extraction is DECIMAL(8,6) incl. the micro part
            + F.expr(
                "cast(extract(SECOND FROM ts) * 1000000 as bigint)")
        )
        return stream.withColumn("ts", F.timestamp_micros(epoch_us))
    return stream


def _bucket_ntz(col):
    """Instant -> tz-naive bucket timestamp showing the UTC wall time
    (the inverse of _as_event_time). Pure epoch arithmetic again:
    epoch 0 NTZ + an exact day-time interval, immune to the session
    timezone and its DST transitions."""
    return F.expr(
        f"timestamp_ntz '1970-01-01 00:00:00' + make_dt_interval("
        f"cast(unix_micros({col}) div 86400000000 as int), 0, 0, "
        f"cast(unix_micros({col}) % 86400000000 as decimal(20, 6)) "
        f"/ 1000000)")


_TIER_UNIT = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def valid_event_time(stream: DataFrame, lo: str | None = None,
                     hi: str | None = None) -> DataFrame:
    """Drop rows whose event time falls outside ``[lo, hi]`` BEFORE
    the watermark sees them (bounds are inclusive ISO timestamps,
    either side optional).

    Operational guard, not a semantic operator: Spark's watermark is
    ``max(event time) - delay``, so a SINGLE corrupt far-future
    timestamp (clock-skewed producer, fat-fingered epoch unit) drags
    the watermark years forward and every sane row behind it is then
    silently late-dropped — the stream keeps running and produces
    almost nothing. Bounding event time at ingest caps the blast
    radius of one bad row to that row. Late-but-sane data still goes
    through the normal watermark rules; out-of-range rows are the
    batch cascade's to repair (same as any late tail). Pure Catalyst
    filter; no Python."""
    from pyspark.sql.types import TimestampNTZType

    col = F.col("ts")
    ntz = ("_ntz" if isinstance(stream.schema["ts"].dataType,
                                TimestampNTZType) else "")
    if lo is not None:
        stream = stream.filter(col >= F.lit(lo).cast(f"timestamp{ntz}"))
    if hi is not None:
        stream = stream.filter(col <= F.lit(hi).cast(f"timestamp{ntz}"))
    return stream


def _deduped_points(stream: DataFrame, watermark: str) -> DataFrame:
    """Shared streaming preamble: event-time column + watermark +
    in-watermark (conv_id, turn_idx) dedup + metric explode. Every
    streaming operator starts here so the dedup keys / event-time
    rules can never drift between them."""
    deduped = (
        _as_event_time(stream).withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )
    return stream_turn_metrics(deduped)  # watermark propagates


def streaming_rollup(stream: DataFrame, tier: str = "1m",
                     watermark: str = "10 minutes") -> DataFrame:
    """Continuous tier aggregates with event-time watermarking.

    Append-mode compatible: a bucket is emitted once its window is
    older than the watermark — the streaming analogue of "documents
    become searchable at sync-to-disk". Duplicate (conv_id, turn_idx)
    arrivals inside the watermark are suppressed before aggregation.
    """
    unit = _TIER_UNIT[tier]
    points = _deduped_points(stream, watermark)
    return (
        points
        .groupBy(F.window("ts", unit).alias("w"),
                 "kind", "series_key", "metric")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .select("kind", "series_key", "metric",
                _bucket_ntz("w.start").alias("bucket_ts"),
                "cnt", "sum_v", "min_v", "max_v")
    )


def streaming_distinct_sketch(stream: DataFrame, tier: str = "1m",
                              watermark: str = "10 minutes",
                              distinct_col: str = "conv_id",
                              lg_k: int = 12) -> DataFrame:
    """Continuous DISTINCT-count sketches with event-time watermarking
    — the streaming twin of rollup.rollup_distinct_sketch, completing
    batch/stream symmetry for the one non-additive aggregate.

    hll_sketch_agg is a declarative partial+final aggregate, so it
    runs under the standard streaming state store: a closed bucket
    emits the SAME sketch registers the batch path builds (union over
    arrival order is commutative), hence identical estimates and
    losslessly union-able output — a foreachBatch sink can merge
    emitted rows straight into a TieredStore sketch tier.
    """
    unit = _TIER_UNIT[tier]
    points = _deduped_points(stream, watermark)
    return (
        points
        .groupBy(F.window("ts", unit).alias("w"),
                 "kind", "series_key", "metric")
        .agg(F.hll_sketch_agg(distinct_col, F.lit(lg_k))
             .alias("distinct_sketch"),
             F.count("*").alias("cnt"))
        .select(F.lit(tier).alias("tier"),
                "kind", "series_key", "metric",
                _bucket_ntz("w.start").alias("bucket_ts"),
                "cnt",
                F.hll_sketch_estimate("distinct_sketch").cast("long")
                .alias("n_distinct"),
                "distinct_sketch")
    )


def streaming_histogram(stream: DataFrame, tier: str = "1m",
                        watermark: str = "10 minutes",
                        alpha: float | None = None) -> DataFrame:
    """Continuous quantile-histogram BIN rows with event-time
    watermarking — the streaming twin of histogram.rollup_histogram,
    completing batch/stream symmetry for the second non-additive
    aggregate.

    Emits bin-LEVEL rows (tier, series, bucket_ts, alpha, sgn, idx,
    c), not map rows: the map assembly is a second aggregation, and
    chained streaming aggregations are unsupported in append mode —
    so the single stateful operator counts per (series, bucket, sign,
    bin) and hist_store_sink assembles/merges downstream. State per
    group is one long; group cardinality is series x open buckets x
    occupied bins, bounded by the watermark horizon. Bin indexing
    reuses histogram._bin_index, so streamed bins land on EXACTLY the
    batch path's grid (the bit-for-bit merge compatibility the sink's
    exactness test pins)."""
    from ..histogram import DEFAULT_ALPHA, _bin_index, gamma_of

    if alpha is None:
        alpha = DEFAULT_ALPHA
    g = gamma_of(alpha)
    unit = _TIER_UNIT[tier]
    points = _deduped_points(stream, watermark)
    v = F.col("v").cast("double")
    # NULL values never bin (same guard as rollup_histogram: the sign
    # fall-through would count them as zeros)
    points = points.filter(v.isNotNull())
    sgn = (F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1))
           .otherwise(F.lit(0)))
    idx = F.when(v == 0, F.lit(0)).otherwise(_bin_index(v, g))
    return (
        points.withColumn("sgn", sgn).withColumn("idx", idx)
        .groupBy(F.window("ts", unit).alias("w"),
                 "kind", "series_key", "metric", "sgn", "idx")
        .agg(F.count("*").alias("c"))
        .select(F.lit(tier).alias("tier"),
                "kind", "series_key", "metric",
                _bucket_ntz("w.start").alias("bucket_ts"),
                F.lit(float(alpha)).alias("alpha"),
                "sgn", "idx", "c")
    )


#: Per-date ledger sidecar for the streaming sketch sink:
#: `_`-prefixed, so the parquet reader skips it; each bucket_date dir
#: carries ITS OWN ledger and swaps atomically with its data.
_SKETCH_LEDGER = "_applied_batches.json"

#: per-batch ingest metrics sidecar (one JSON line per applied
#: (app, batch, date)) — the streaming analogue of the batch job's
#: per-partition lineage metrics (rows in, points out, bytes
#: compressed). Appended just BEFORE the ledger/swap commit, so a
#: crash in between makes the retry re-append the same deterministic
#: line; readers dedupe on (app, batch, date) keeping the last.
_STREAM_METRICS = "metrics.jsonl"


def _append_stream_metrics(sidecar_dir, app_id: str, batch_id: int,
                           date: str, stats: dict) -> None:
    import json

    sidecar_dir.mkdir(parents=True, exist_ok=True)
    line = json.dumps({"app": app_id, "batch": batch_id, "date": date,
                       **stats})
    with open(sidecar_dir / _STREAM_METRICS, "a") as f:
        f.write(line + "\n")


def read_stream_metrics(sidecar_dir) -> list[dict]:
    """Deduped per-(app, batch, date) metrics rows from a sidecar dir
    (crash retries may append the same deterministic line twice)."""
    import json

    path = sidecar_dir / _STREAM_METRICS
    if not path.exists():
        return []
    rows: dict = {}
    for line in path.read_text().splitlines():
        if line.strip():
            r = json.loads(line)
            rows[(r["app"], r["batch"], r["date"])] = r
    return [rows[k] for k in sorted(rows)]

# inverse of _bucket_ntz: NTZ UTC wall time -> instant, session-tz
# invariant (whole-second bucket boundaries, so SECOND is lossless)
_NTZ_TO_INSTANT = ("timestamp_seconds(timestampdiff(SECOND, "
                   "timestamp_ntz'1970-01-01 00:00:00', bucket_ts))")


def sketch_store_sink(store, tier: str, app_id: str = "stream"):
    """foreachBatch sink merging streamed distinct sketches into a
    TieredStore sketch tier — the production end of
    streaming_distinct_sketch: emitted closed buckets union (HLL +
    summed cnt) into the persisted tier that query_range_distinct
    serves. The merge/ledger/swap machinery is shared with the
    histogram sink (`_mergeable_store_sink`, where the crash-safety
    contract is documented)."""
    from ..rollup import _union_sketches

    cols = ["kind", "series_key", "metric", "bucket_ts", "cnt",
            "distinct_sketch"]

    def stats_agg(new: DataFrame) -> DataFrame:
        return new.groupBy("bucket_date").agg(
            F.count("*").alias("rows"),
            F.sum("cnt").alias("points"),
            F.sum(F.octet_length("distinct_sketch"))
            .alias("sketch_bytes"))

    def merge(part: DataFrame) -> DataFrame:
        return _union_sketches(
            part, F.col("bucket_ts").alias("bucket_ts"), F.lit(tier))

    return _mergeable_store_sink(
        store, app_id, root=store.sketch_dir(tier),
        metrics_dir=store.root / "_streaming" / f"sketch={tier}",
        cols=cols, stats_agg=stats_agg, merge=merge)


def hist_store_sink(store, tier: str, app_id: str = "stream"):
    """foreachBatch sink merging streamed histogram BIN rows
    (streaming_histogram output) into a TieredStore histogram tier —
    the streaming end of the quantile continuous aggregate that
    query_range_quantile serves.

    The stream emits bin-level rows (one streaming aggregation —
    chained aggregations are unsupported in append mode, and a
    per-bucket map assembly in-stream would be a second one); this
    sink assembles them into the tier's map-shaped rows
    (histogram._assemble_bins over THIS batch's rows) and merges with
    the date partition's existing rows by bin addition
    (histogram._merge_bins) — exact whether a bucket's bins arrive in
    one batch or split across several. Ledger/swap semantics are
    `_mergeable_store_sink`'s."""
    from ..histogram import _OUT_COLS, _merge_bins

    cols = [c for c in _OUT_COLS if c != "tier"]

    def prepare(new: DataFrame) -> DataFrame:
        from ..histogram import _assemble_bins

        # bin rows -> map rows, alpha riding in the group keys like
        # every histogram merge
        per_bin = new.groupBy(
            "kind", "series_key", "metric", "bucket_ts", "alpha",
            "sgn", "idx").agg(F.sum("c").alias("c"))
        return _assemble_bins(per_bin, F.lit(tier)).select(*cols)

    def stats_agg(new: DataFrame) -> DataFrame:
        return new.groupBy("bucket_date").agg(
            F.count("*").alias("rows"),
            F.sum("cnt").alias("points"),
            F.sum(F.size("pos_bins") + F.size("neg_bins"))
            .alias("bins"))

    def merge(part: DataFrame) -> DataFrame:
        return _merge_bins(part, F.col("bucket_ts"), F.lit(tier))

    return _mergeable_store_sink(
        store, app_id, root=store.hist_dir(tier),
        metrics_dir=store.root / "_streaming" / f"hist={tier}",
        cols=cols, stats_agg=stats_agg, merge=merge, prepare=prepare)


def _mergeable_store_sink(store, app_id: str, *, root, metrics_dir,
                          cols: list, stats_agg, merge, prepare=None):
    """Shared foreachBatch sink for MERGEABLE auxiliary tiers (HLL
    sketches, quantile histograms): each micro-batch's closed buckets
    merge into the persisted date partitions the read path serves.

    Scale shape: the merge is scoped PER bucket_date — closed buckets
    cluster just behind the watermark, so each micro-batch touches
    1-2 date partitions and reads only those partitions' current rows
    (a sketch tier can reach O(points) rows at conv granularity — the
    35.6M-turn rehearsal's 1m tier holds 51M — so a whole-tier merge
    per batch would be O(tier), not O(batch)).

    Exactly-once under foreachBatch's at-least-once retries: each date
    dir carries its own applied-batch ledger listing
    ``"{app_id}/{batch_id}"`` entries, written into the staged dir
    BEFORE the directory swap. A retry skips dates whose ledger
    already lists the batch and re-merges only the dates the crash
    left unswapped — per-date exactly-once with no external
    transaction log.

    ``app_id`` is the Delta ``txnAppId`` pattern: batch ids restart at
    0 whenever a query starts from a FRESH checkpoint, so ledger
    entries are scoped to the logical stream incarnation. The recovery
    contract: restarting from the same checkpoint keeps the same
    app_id (retries dedup correctly); wiping the checkpoint means the
    source replays from scratch, so the caller must pass a NEW app_id
    AND start from a fresh/cleared tier — reusing the old app_id would
    silently drop the replayed batches, reusing the old tier would
    double-merge them.

    Swap protocol (crash-safe at every window): build
    ``.stage-{d}-…`` (ledger written LAST = completion marker), rename
    the live dir to ``.old-{d}-…``, rename staged in, drop old. On
    entry each date first repairs whatever a crash left: a complete
    staged dir with no live dir is rolled FORWARD (rename in); an
    ``.old`` dir with no live dir is rolled BACK (the staged merge
    never landed); incomplete staged dirs are discarded. No window
    loses the date dir: the data is always in at least one of
    live/staged-complete/old.

    ``prepare`` (optional) maps the batch's emitted rows to the
    tier's row shape BEFORE the per-date merge (the histogram sink
    assembles bin rows into map rows there); ``merge`` re-aggregates
    a union of new + existing rows; ``stats_agg`` produces the
    per-date lineage metrics row.
    """
    import json
    import shutil

    entry = None  # set per batch: f"{app_id}/{batch_id}"

    def _load_ledger(led) -> list:
        """Read a ledger, normalizing bare-int entries written by the
        pre-app_id sink to the CURRENT app_id: those entries came from
        the same checkpoint lineage this query resumed (a fresh
        incarnation starts with a fresh tier per the recovery
        contract), so they are this incarnation's applied batches —
        without the mapping, an upgraded sink would re-merge them."""
        return [f"{app_id}/{e}" if isinstance(e, int) else e
                for e in json.loads(led.read_text())]

    def _complete(staged) -> bool:
        """A staged dir is complete iff its ledger (written last)
        lists the current batch entry."""
        led = staged / _SKETCH_LEDGER
        try:
            return led.exists() and entry in _load_ledger(led)
        except (ValueError, OSError):
            return False

    def _repair(root, d: str) -> bool:
        """Roll a crashed swap for date ``d`` forward or back.
        Returns True if the current batch entry is already live
        (so the merge must be skipped)."""
        ddir = root / f"bucket_date={d}"
        staged = root / f".stage-{d}-{app_id}-{batch_key}"
        old = root / f".old-{d}-{app_id}-{batch_key}"
        if not ddir.exists():
            if _complete(staged):
                # crashed between live->old and staged->live
                staged.rename(ddir)
            elif old.exists():
                # crashed after live->old with no landable staged
                old.rename(ddir)
        if ddir.exists():
            led = ddir / _SKETCH_LEDGER
            if led.exists() and entry in _load_ledger(led):
                # batch already applied; drop swap debris
                shutil.rmtree(old, ignore_errors=True)
                shutil.rmtree(staged, ignore_errors=True)
                return True
        return False

    def write(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal entry, batch_key
        batch_key = str(batch_id)
        entry = f"{app_id}/{batch_id}"
        shaped = batch_df.withColumn("bucket_ts", F.expr(_NTZ_TO_INSTANT))
        if prepare is not None:
            shaped = prepare(shaped)
        new = (
            shaped.select(*cols)
            .withColumn("bucket_date", F.to_date("bucket_ts"))
        ).persist()
        try:
            # 1-2 closed dates per batch: a bounded driver-side list;
            # the agg doubles as the per-(app, batch, date) lineage
            # metrics record (this batch's contribution, pre-merge)
            stats = {str(r["bucket_date"]):
                     {k: v for k, v in r.asDict().items()
                      if k != "bucket_date"}
                     for r in stats_agg(new).collect()}
            dates = sorted(stats)
            if not dates:
                return
            spark = batch_df.sparkSession
            root.mkdir(parents=True, exist_ok=True)
            for d in dates:
                if _repair(root, d):
                    continue
                ddir = root / f"bucket_date={d}"
                ledger = ddir / _SKETCH_LEDGER
                applied = (_load_ledger(ledger)
                           if ledger.exists() else [])
                part = new.filter(F.col("bucket_date") == d) \
                    .drop("bucket_date")
                if any(ddir.glob("*.parquet")):
                    part = spark.read.parquet(str(ddir)) \
                        .select(*cols).unionByName(part)
                merged = merge(part)
                staged = root / f".stage-{d}-{app_id}-{batch_key}"
                if staged.exists():
                    shutil.rmtree(staged)
                # AUX_SHARDS parallel writers per date dir, not one:
                # the merge rewrites the WHOLE date partition, which
                # at conv granularity is the r5 verdict's multi-GB
                # single reducer. Partitioning on the full-cardinality
                # series hash (not a mod-P shard id — 8 distinct
                # values hashed into 8 partitions would collide, guide
                # §2.5) spreads evenly; each file stays series-sorted
                # so row-group stats prune exactly as before.
                from ..lineage import AUX_SHARDS
                merged.repartition(AUX_SHARDS,
                                   F.xxhash64("kind", "series_key")) \
                    .sortWithinPartitions(
                        "kind", "series_key", "metric", "bucket_ts") \
                    .write.mode("overwrite").parquet(str(staged))
                (staged / _SKETCH_LEDGER).write_text(
                    json.dumps(applied + [entry]))
                _append_stream_metrics(metrics_dir, app_id, batch_id, d,
                                       stats[d])
                old = root / f".old-{d}-{app_id}-{batch_key}"
                if ddir.exists():
                    ddir.rename(old)
                staged.rename(ddir)
                shutil.rmtree(old, ignore_errors=True)
                # sweep debris earlier batches left behind (a crash
                # after their swap landed but before their .old was
                # removed): once THIS date's swap is live, any
                # older-batch .old/.stage for it is safely dead —
                # foreachBatch serializes batches, so an earlier
                # batch's merge either landed (entry live) or was
                # re-merged by its own retry before this one ran
                for stale in root.glob(f".old-{d}-*"):
                    shutil.rmtree(stale, ignore_errors=True)
                for stale in root.glob(f".stage-{d}-*"):
                    shutil.rmtree(stale, ignore_errors=True)
        finally:
            new.unpersist()

    batch_key = ""
    return write


def chunk_store_sink(store, tier: str, app_id: str = "stream",
                     num_partitions: int = 8):
    """foreachBatch sink appending streamed Gorilla chunk rows
    (streaming_rollup_chunks output) into a TieredStore tier — the
    tier is then served by series_points / query_range / compact_tier
    exactly like batch-job output. This completes the module-header
    design: continuous ingest lands in the SAME store the batch
    pipeline maintains, with the batch cascade re-folding the late
    tail at compaction time.

    Layout: rows land under ``tier={t}/p={p}/bucket_date={d}`` with
    ``p = pmod(xxhash64(kind \\x1f series_key), P)``. The batch job
    shards by conv_id, so shard assignments differ for tool series —
    harmless by design: every reader aggregates across ``p`` (the
    partials are associative), and nothing keys on which shard a
    series lives in.

    Exactly-once under at-least-once retries WITHOUT read-modify-
    write: a closed bucket is emitted exactly once by the stateful
    operator, so the sink only ever APPENDS — each (date, batch)
    lands as one deterministically-named file per shard
    (``stream-{app_id}-{batch_id}.parquet``), making a replayed move
    overwrite itself, and the per-date ledger (in a ``_streaming``
    sidecar, invisible to readers) commits last. Crash anywhere →
    retry redoes idempotent file moves and re-commits the ledger.

    Ownership contract: the batch job's whole-shard replace is the
    source of truth — a nightly job whose raw table covers the
    streamed dates rebuilds them (re-deriving streamed data from
    raw); streaming owns only the live tail in between.
    """
    import json
    import os
    import shutil

    series_id = F.concat_ws("\x1f", F.col("kind"), F.col("series_key"))
    cols = ["kind", "series_key", "metric", "bucket_ts", "cnt",
            "sum_v", "min_v", "max_v", "last_v", "chunk"]

    def write(batch_df: DataFrame, batch_id: int) -> None:
        entry = f"{app_id}/{batch_id}"
        ledger_dir = store.root / "_streaming" / f"tier={tier}"
        new = (
            batch_df
            # emitted bucket_ts is tz-naive; stored tiers carry the
            # instant — same session-tz-proof conversion as the
            # sketch sink, so file schemas match the batch job's
            .withColumn("bucket_ts", F.expr(_NTZ_TO_INSTANT))
            .withColumn("p", F.pmod(F.xxhash64(series_id),
                                    F.lit(num_partitions)))
            .withColumn("bucket_date", F.to_date("bucket_ts"))
            .select("p", "bucket_date", *cols)
        ).persist()
        try:
            # one tiny agg per batch: the per-date lineage metrics the
            # batch job records per partition (rows in, points out,
            # bytes compressed), keyed (app, batch, date)
            stats = {str(r["bucket_date"]): {
                         "rows": r["rows"], "points": r["points"],
                         "chunk_bytes": r["chunk_bytes"]}
                     for r in new.groupBy("bucket_date").agg(
                         F.count("*").alias("rows"),
                         F.sum("cnt").alias("points"),
                         F.sum(F.octet_length("chunk"))
                         .alias("chunk_bytes")).collect()}
            dates = sorted(stats)
            if not dates:
                return
            ledger_dir.mkdir(parents=True, exist_ok=True)
            for d in dates:
                led = ledger_dir / f"bucket_date={d}.json"
                applied = ([f"{app_id}/{e}" if isinstance(e, int) else e
                            for e in json.loads(led.read_text())]
                           if led.exists() else [])
                if entry in applied:
                    continue
                staged = store.root / "_streaming" / \
                    f".stage-{tier}-{d}-{app_id}-{batch_id}"
                if staged.exists():
                    shutil.rmtree(staged)
                part = new.filter(F.col("bucket_date") == d) \
                    .drop("bucket_date")
                (
                    part.repartition("p")
                    .sortWithinPartitions("p", *_STORE_SORT_STREAM)
                    .write.mode("overwrite").partitionBy("p")
                    .parquet(str(staged))
                )
                fname = f"stream-{app_id}-{batch_id}.parquet"
                for pdir in sorted(staged.glob("p=*")):
                    files = sorted(pdir.glob("*.parquet"))
                    if not files:
                        continue
                    leaf = (store.tier_dir(tier) / pdir.name
                            / f"bucket_date={d}")
                    leaf.mkdir(parents=True, exist_ok=True)
                    if len(files) == 1:
                        os.replace(files[0], leaf / fname)
                    else:  # repartition("p") gives one file per shard,
                        # but never rely on it: suffix extras stably
                        for i, f in enumerate(files):
                            os.replace(f, leaf / f"{fname}.{i}")
                shutil.rmtree(staged, ignore_errors=True)
                _append_stream_metrics(ledger_dir, app_id, batch_id, d,
                                       stats[d])
                led.write_text(json.dumps(applied + [entry]))
        finally:
            new.unpersist()

    return write


#: chunk-sink file row order — same clustering as the batch store
#: (_cluster_for_store) so row-group stats prune series filters
_STORE_SORT_STREAM = ["kind", "series_key", "metric", "bucket_ts"]


ROLLUP_CHUNK_SCHEMA = (
    "kind string, series_key string, metric string, "
    "bucket_ts timestamp_ntz, "
    "cnt long, sum_v double, min_v double, max_v double, last_v double, "
    "chunk binary"
)
_STATE_SCHEMA = ("ts array<bigint>, conv array<string>, tidx array<bigint>, "
                 "v array<double>")

#: sharded-state variant: ONE pickled columnar buffer per hash shard
_SHARD_STATE_SCHEMA = "buf binary"

#: composite series separator inside the sharded buffer (same byte the
#: store layout uses in its series_id concat — series fields are
#: conv_id / tool / metric names, never control characters)
_SKEY_SEP = "\x1f"


def _make_sharded_chunk_fn(unit_us: int):
    """Build the per-shard applyInPandasWithState handler for
    _streaming_chunks_sharded. Module-level so the unit-level
    differential test (test_streaming_unit.py) can drive it through a
    simulated GroupState across arbitrary batch/watermark sequences —
    coverage the end-to-end stream tests can't reach cheaply."""
    import pickle

    import numpy as np
    import pandas as pd

    from .. import codec

    _empty = (np.empty(0, dtype=object), np.empty(0, dtype=np.int64),
              np.empty(0, dtype=object), np.empty(0, dtype=np.int64),
              np.empty(0, dtype=np.float64))

    def fn(key, pdf_iter, state):
        if state.exists:
            skey, ts, conv, tidx, v = pickle.loads(bytes(state.get[0]))
        else:
            skey, ts, conv, tidx, v = _empty
        wm_us = state.getCurrentWatermarkMs() * 1000
        parts = [(skey, ts, conv, tidx, v)]
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            t = pdf["ts_us"].to_numpy(dtype=np.int64)
            # arrival-time late drop, same rule as the per-series
            # writer: strictly older than the watermark is late
            on_time = t >= wm_us
            if not on_time.any():
                continue
            p = pdf.loc[on_time]
            comp = (p["kind"].astype(str) + _SKEY_SEP
                    + p["series_key"].astype(str) + _SKEY_SEP
                    + p["metric"].astype(str)).to_numpy(dtype=object)
            parts.append((comp, t[on_time],
                          p["conv_id"].to_numpy(dtype=object),
                          p["turn_idx"].to_numpy(dtype=np.int64),
                          p["v"].to_numpy(dtype=np.float64)))
        if len(parts) > 1:
            skey, ts, conv, tidx, v = (
                np.concatenate([pp[i] for pp in parts])
                for i in range(5))
        if len(ts) == 0:
            state.remove()
            return
        # order-preserving integer codes (np.unique sorts), then one
        # integer lexsort: (series, ts, conv_id, turn_idx) — the batch
        # writer's intra-chunk order, string compare included
        s_uniq, s_code = np.unique(skey, return_inverse=True)
        _, c_code = np.unique(conv, return_inverse=True)
        order = np.lexsort((tidx, c_code, ts, s_code))
        skey, ts, conv, tidx, v, s_code = (
            a[order] for a in (skey, ts, conv, tidx, v, s_code))
        bucket = ts - ts % unit_us
        closed = (bucket + unit_us) <= wm_us
        out = None
        if closed.any():
            cs, ct, cv, cb = (s_code[closed], ts[closed], v[closed],
                              bucket[closed])
            starts = np.flatnonzero(np.concatenate(
                [[True], (cs[1:] != cs[:-1]) | (cb[1:] != cb[:-1])]))
            ends = np.append(starts[1:], len(cb))
            chunks = codec.encode_many(ct, cv, starts)
            series = pd.Series(s_uniq[cs[starts]]).str.split(
                _SKEY_SEP, expand=True)
            out = pd.DataFrame({
                "kind": series[0], "series_key": series[1],
                "metric": series[2],
                "bucket_ts": cb[starts].astype("datetime64[us]"),
                "cnt": ends - starts,
                "sum_v": np.add.reduceat(cv, starts),
                "min_v": np.minimum.reduceat(cv, starts),
                "max_v": np.maximum.reduceat(cv, starts),
                "last_v": cv[ends - 1],
                "chunk": chunks,
            })
        keep = ~closed
        if keep.any():
            state.update((pickle.dumps(
                tuple(a[keep] for a in (skey, ts, conv, tidx, v)),
                protocol=pickle.HIGHEST_PROTOCOL),))
            # flush when the watermark passes the earliest open bucket
            state.setTimeoutTimestamp(
                int((bucket[keep] + unit_us).min()) // 1000)
        else:
            state.remove()
        if out is not None:
            yield out

    return fn


def _streaming_chunks_sharded(stream: DataFrame, tier: str,
                              watermark: str, shards: int) -> DataFrame:
    """Sharded-state body of streaming_rollup_chunks (shards=N).

    Why it exists: the per-series writer calls the Python state
    handler once per OPEN SERIES per micro-batch — measured ~2.5k
    turns/s on the rehearsal corpus (~500k open series), dominated by
    per-group pandas/pickle work, not encode work (BENCH.md).
    Grouping by ``pmod(xxhash64(series), shards)`` instead keeps one
    columnar buffer per shard, so a micro-batch makes O(shards) handler
    calls and every per-point step (sort, bucket close, aggregate,
    Gorilla encode) is one vectorized numpy pass over the shard — the
    same memtable-per-shard shape an LSM ingester uses. Either way a
    micro-batch runs 2 x (the stream's state partitions) Python worker
    invocations, a data pass plus a timeout pass per partition; the
    state partition count is ``spark.sql.shuffle.partitions``, fixed
    when the checkpoint is created. ``shards`` only sets how many
    handler calls happen inside those invocations. Emitted rows
    are identical to the per-series writer's (asserted bit-for-bit in
    tests): intra-chunk point order is (ts, conv_id, turn_idx) via
    integer lexsort over order-preserving np.unique codes.

    State per shard is one pickled tuple of flat arrays (composite
    series key, ts_us, conv_id, turn_idx, v) holding only OPEN-bucket
    points; event-time timeouts flush idle shards when the watermark
    passes their earliest open bucket end, exactly like the per-series
    variant.
    """
    from ..rollup import TIER_US

    fn = _make_sharded_chunk_fn(TIER_US[tier])
    points = _deduped_points(stream, watermark).withColumn(
        "ts_us", F.unix_micros("ts")).withColumn(
        "shard", F.pmod(F.xxhash64("kind", "series_key", "metric"),
                        F.lit(shards)).cast("int"))
    return (
        points.groupBy("shard")
        .applyInPandasWithState(
            fn,
            outputStructType=ROLLUP_CHUNK_SCHEMA,
            stateStructType=_SHARD_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def streaming_rollup_chunks(stream: DataFrame, tier: str = "1m",
                            watermark: str = "10 minutes",
                            shards: int | None = None) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): the
    streaming analogue of the one-pass chunk writer. Per-series state
    buffers the open buckets' points; once the event-time watermark
    passes a bucket's end, that bucket is emitted with the SAME
    aggregates and the SAME Gorilla-encoded chunk the batch path
    produces (asserted bit-for-bit in tests). Idle series flush via
    event-time timeouts, so emission doesn't require new data per key.

    This is the RAM-batch -> immutable-tail lifecycle of the reference
    (MimirIndex.java:611-628: postings buffered in RAM, searchable at
    sync-to-disk) with the watermark playing the flush timer.

    ``shards``: None keeps one state row per series (the reference
    shape; fine at moderate series cardinality). An integer switches
    to the sharded-state writer — one columnar buffer per hash shard,
    O(shards) handler calls per micro-batch instead of O(open series)
    — the high-cardinality live-tail configuration
    (_streaming_chunks_sharded; stream_job defaults to it). Output is
    identical bit-for-bit either way. Python worker invocations per
    micro-batch do not depend on ``shards``: they are 2 x the state
    partitions (``spark.sql.shuffle.partitions`` when the checkpoint
    was created), a data pass and a timeout pass.
    """
    if shards:
        return _streaming_chunks_sharded(stream, tier, watermark, shards)
    import numpy as np
    import pandas as pd

    from .. import codec
    from ..rollup import TIER_US

    unit_us = TIER_US[tier]

    def fn(key, pdf_iter, state):
        # restore buffered open points
        if state.exists:
            ts_l, conv_l, tidx_l, v_l = (list(x) for x in state.get)
        else:
            ts_l, conv_l, tidx_l, v_l = [], [], [], []
        wm_us = state.getCurrentWatermarkMs() * 1000
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            # epoch micros computed JVM-side (unix_micros) — immune to
            # pandas/session timezone rendering of the ts column
            ts_new = pdf["ts_us"].astype("int64")
            # drop late-beyond-watermark rows at arrival (the built-in
            # aggregation's rule: strictly older than the watermark is
            # late, ts == watermark is on time); the batch cascade
            # repairs the late tail at compaction time, as in the
            # reference's LSM merge. Buffered rows are never late: they
            # were on time at arrival, and an on-time row's bucket is
            # open by definition (bucket end > ts >= watermark)
            on_time = ts_new.to_numpy() >= wm_us
            ts_l.extend(ts_new[on_time].tolist())
            conv_l.extend(pdf["conv_id"][on_time].tolist())
            tidx_l.extend(int(x) for x in pdf["turn_idx"][on_time])
            v_l.extend(float(x) for x in pdf["v"][on_time])
        if ts_l:
            order = sorted(range(len(ts_l)),
                           key=lambda i: (ts_l[i], conv_l[i], tidx_l[i]))
            ts = np.array([ts_l[i] for i in order], dtype=np.int64)
            conv = [conv_l[i] for i in order]
            tidx = [tidx_l[i] for i in order]
            v = np.array([v_l[i] for i in order], dtype=np.float64)
            bucket = ts - ts % unit_us
            closed = (bucket + unit_us) <= wm_us
            rows = []
            if closed.any():
                cts, cv, cb = ts[closed], v[closed], bucket[closed]
                starts = np.flatnonzero(
                    np.concatenate([[True], cb[1:] != cb[:-1]]))
                ends = np.append(starts[1:], len(cb))
                chunks = codec.encode_many(cts, cv, starts)
                for s, e, ch in zip(starts, ends, chunks):
                    rows.append((
                        key[0], key[1], key[2],
                        np.int64(cb[s]).astype("datetime64[us]"),
                        int(e - s), float(np.sum(cv[s:e])),
                        float(np.min(cv[s:e])), float(np.max(cv[s:e])),
                        float(cv[e - 1]), ch,
                    ))
            keep = ~closed
            if keep.any():
                state.update((
                    ts[keep].tolist(),
                    [c for c, k in zip(conv, keep) if k],
                    [t for t, k in zip(tidx, keep) if k],
                    v[keep].tolist(),
                ))
                # flush idle series when the watermark passes the
                # earliest open bucket (must be > current watermark)
                open_ends = bucket[keep] + unit_us
                state.setTimeoutTimestamp(int(open_ends.min()) // 1000)
            else:
                state.remove()
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "kind", "series_key", "metric", "bucket_ts", "cnt",
                    "sum_v", "min_v", "max_v", "last_v", "chunk"])
        else:
            state.remove()

    points = _deduped_points(stream, watermark).withColumn(
        "ts_us", F.unix_micros("ts"))
    return (
        points.groupBy("kind", "series_key", "metric")
        .applyInPandasWithState(
            fn,
            outputStructType=ROLLUP_CHUNK_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


_REPLAY_SEQ = [0]


def replay_stream(spark, source_path: str, schema: str, transform,
                  query_name: str = "stream_replay"):
    """Run a bounded file-source stream to completion in ONE data
    micro-batch and return the emitted rows as a batch DataFrame.

    Single-batch matters for determinism: the watermark is still at
    its initial value while the only data batch runs, so no row is
    ever dropped as late regardless of file listing order, and the
    terminal no-data batch then flushes exactly the buckets closed by
    the final watermark ``max(ts) - delay``. The emitted set is a pure
    function of the data — the property that lets the driver's DuckDB
    oracle replay it as SQL (closed-bucket filter on max(ts)).
    """
    import os
    import shutil
    import tempfile

    _REPLAY_SEQ[0] += 1
    name = f"{query_name}_{_REPLAY_SEQ[0]}"
    scratch = None
    if os.path.isfile(source_path):
        # the file source requires a directory: expose a single-file
        # input through a symlink in a scratch dir (removed below —
        # the memory sink holds the results once the stream stops)
        scratch = tempfile.mkdtemp(prefix="stream_replay_")
        os.symlink(os.path.abspath(source_path),
                   os.path.join(scratch, os.path.basename(source_path)))
        source_path = scratch
    stream = spark.readStream.schema(schema).parquet(source_path)
    q = (
        transform(stream).writeStream.outputMode("append")
        .format("memory").queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        if scratch is not None:
            shutil.rmtree(scratch, ignore_errors=True)
    # Detach the result from the memory sink before returning: copy
    # the (bounded, already-materialized) rows into a fresh local
    # DataFrame and drop the sink's temp view, so the sink's buffer is
    # released with this call instead of accumulating one
    # fully-materialized result set per replay for the session's life.
    out = spark.table(name)
    rows = out.collect()
    result = spark.createDataFrame(rows, out.schema)
    spark.catalog.dropTempView(name)
    return result


def run_stream_to_memory(spark, source_dir: str, schema: str,
                         query_name: str = "rollup_stream",
                         tier: str = "1m") -> "object":
    """Drive a file-source stream to completion synchronously (test &
    smoke harness; production sinks via foreachBatch MERGE)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )
    agg = streaming_rollup(stream, tier)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory").queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    return q


def streaming_sessionize(stream: DataFrame, gap_minutes: int = 30,
                         delay: str = "10 minutes",
                         key_col: str = "user_id") -> DataFrame:
    """Streaming sessionization with Spark's built-in session_window:
    a session extends while successive events arrive within
    ``gap_minutes`` of the last one; the window closes (and the row is
    emitted, append mode) once the watermark passes session end
    (= last event + gap). The stateful merge/expiry machinery is
    Structured Streaming's own — no custom state handler needed; this
    is the engine's sessionize_events surface made continuous.

    Boundary rule note: session_window merges an event iff its gap to
    the previous event is STRICTLY LESS than the gap duration (an
    exactly-gap-sized silence closes the session); the batch
    window-lag formulation in the gate entry keeps an exactly-equal
    gap in-session. Tests oracle this operator against
    session_window's own rule.
    """
    s = _as_event_time(stream)
    w = F.session_window("ts", f"{gap_minutes} minutes")
    return (
        s.withWatermark("ts", delay)
        .groupBy(F.col(key_col), w.alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            _bucket_ntz("w.start").alias("session_start"),
            _bucket_ntz("w.end").alias("session_end"),
            "n_events",
        )
    )

"""Streaming rollup == batch rollup on the emitted (closed) windows —
the continuous-ingest visibility contract of SURVEY.md §2.8."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mimir_spark.fixtures import TRANSCRIPT_SCHEMA
from mimir_spark.ingest import ingest, turn_metrics
from mimir_spark.rollup import rollup_aggs
from mimir_spark.streaming.rollup_stream import run_stream_to_memory

KEY = ["kind", "series_key", "metric", "bucket_ts"]


@pytest.fixture(scope="module")
def stream_dir(spark, t_small, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    # several files so maxFilesPerTrigger yields real micro-batches
    df = spark.createDataFrame(t_small, schema=TRANSCRIPT_SCHEMA)
    df.repartition(8).write.mode("overwrite").parquet(str(d / "data"))
    return str(d / "data")


def test_streaming_matches_batch(spark, t_small_df, stream_dir):
    q = run_stream_to_memory(spark, stream_dir, TRANSCRIPT_SCHEMA,
                             query_name="s1", tier="1h")
    try:
        got = spark.sql("SELECT * FROM s1").toPandas()
    finally:
        q.stop()

    batch = rollup_aggs(turn_metrics(ingest(t_small_df)), "1h") \
        .drop("last_v").toPandas()

    got = got.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    # append mode only emits windows closed by the final watermark;
    # compare on the emitted subset (the rest stays in state — the
    # "unsearchable until sync" tail of the reference)
    batch = batch.merge(got[KEY], on=KEY, how="inner") \
        .sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert len(got) > 0, "stream must emit closed windows"
    pd.testing.assert_frame_equal(
        got[KEY + ["cnt", "sum_v", "min_v", "max_v"]],
        batch[KEY + ["cnt", "sum_v", "min_v", "max_v"]],
        check_dtype=False,
    )


def test_streaming_emits_most_windows(spark, t_small_df, stream_dir):
    """Sanity: the emitted set covers the bulk of the batch result
    (only the watermark tail may be withheld)."""
    q = run_stream_to_memory(spark, stream_dir, TRANSCRIPT_SCHEMA,
                             query_name="s2", tier="1h")
    try:
        got = spark.sql("SELECT count(*) AS n FROM s2").toPandas()["n"][0]
    finally:
        q.stop()
    total = rollup_aggs(turn_metrics(ingest(t_small_df)), "1h").count()
    assert got >= 0.8 * total


def test_streaming_timezone_independent(spark):
    """The driver-gate streaming entries must not shift with the
    session timezone: the NTZ source is reinterpreted arithmetically
    (epoch == naive micros) before the watermark, and bucket_ts is
    converted back the same way. Regression for the round-3 fix —
    with 'ts timestamp' schemas the whole emitted set shifted (and the
    stateful writer's closed-set even changed size) under non-UTC tz.
    Asia/Kolkata exercises a non-whole-hour offset."""
    import __spark_entry__ as em

    q = em.queries()["streaming_rollup_1h"]
    cols = ["kind", "series_key", "metric", "bucket_ts", "cnt", "sum_v"]
    base = q(spark, "unused").toPandas()[cols] \
        .sort_values(cols[:4], kind="mergesort").reset_index(drop=True)
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        shifted = q(spark, "unused").toPandas()[cols] \
            .sort_values(cols[:4], kind="mergesort").reset_index(drop=True)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
    pd.testing.assert_frame_equal(base, shifted)


def test_streaming_dst_edge_walls(spark, tmp_path_factory):
    """NTZ wall times inside a DST gap (2026-03-08 02:30 America/
    New_York does not exist) or overlap (2026-11-01 01:30 occurs
    twice) must still land in their naive buckets when the session tz
    is America/New_York — the pure-arithmetic event-time path never
    consults the timezone, so no row can shift an hour."""
    import numpy as np

    from mimir_spark.fixtures import TRANSCRIPT_SCHEMA_NTZ
    from mimir_spark.streaming.rollup_stream import (replay_stream,
                                                     streaming_rollup)

    walls = [
        "2026-03-08 02:30:00",   # spring-forward gap in NY
        "2026-11-01 01:30:00",   # fall-back overlap in NY
        "2026-03-08 01:59:59",
        "2026-11-01 02:10:00",
        "2026-11-02 12:00:00",   # late row that closes the others
    ]
    pdf = pd.DataFrame({
        "conv_id": "c",
        "turn_idx": np.arange(len(walls), dtype=np.int32),
        "role": "user",
        "text": "one two three",
        "tool": pd.array([None] * len(walls), dtype="string"),
        "ts": pd.to_datetime(walls),
    })
    d = tmp_path_factory.mktemp("dst_src")
    pdf.to_parquet(str(d / "part.parquet"), index=False,
                   coerce_timestamps="us", allow_truncated_timestamps=True)

    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        out = replay_stream(
            spark, str(d), TRANSCRIPT_SCHEMA_NTZ,
            lambda s: streaming_rollup(s, tier="1h",
                                       watermark="10 minutes"),
            "dst_gate").toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)

    got = out[out["metric"] == "turn_rate"] \
        .set_index(out[out["metric"] == "turn_rate"]["bucket_ts"]
                   .astype("datetime64[us]"))["cnt"].to_dict()
    want = {
        pd.Timestamp("2026-03-08 01:00:00"): 1,
        pd.Timestamp("2026-03-08 02:00:00"): 1,
        pd.Timestamp("2026-11-01 01:00:00"): 1,
        pd.Timestamp("2026-11-01 02:00:00"): 1,
    }
    assert got == want, got


@pytest.fixture(scope="module")
def ordered_stream_dir(t_small, stream_dir):
    """Time-ordered micro-batches (files written sequentially in ts
    order) so the watermark advances monotonically and every bucket
    is complete when it closes — the in-order ingest contract."""
    import os
    import time as _time

    import numpy as np

    d = stream_dir + "_ordered"
    os.makedirs(d, exist_ok=True)
    src = t_small.sort_values(["ts", "conv_id", "turn_idx"]).reset_index(drop=True)
    slices = [src.iloc[ix] for ix in np.array_split(np.arange(len(src)), 4)]
    for i, sl in enumerate(slices):
        sl.to_parquet(f"{d}/{i:03d}.parquet", index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)
        _time.sleep(1.1)  # distinct mtimes -> chronological source order
    return d


@pytest.mark.parametrize("shards", [4])
def test_streaming_chunks_match_batch(spark, t_small_df, ordered_stream_dir,
                                      shards):
    """The stateful chunk writer (applyInPandasWithState) must emit the
    SAME Gorilla chunks as the batch one-pass writer, bit-for-bit, for
    every bucket it closes."""
    import numpy as np

    from mimir_spark import codec
    from mimir_spark.rollup import rollup_points
    from mimir_spark.streaming.rollup_stream import streaming_rollup_chunks

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(ordered_stream_dir)
    )
    q = (
        streaming_rollup_chunks(stream, tier="1h", shards=shards)
        .writeStream.outputMode("append")
        .format("memory").queryName(f"schunks_{shards}")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(f"SELECT * FROM schunks_{shards}").toPandas()
    finally:
        q.stop()

    assert len(got) > 0, "stream must close some buckets"
    batch = rollup_points(turn_metrics(ingest(t_small_df)), tiers=("1h",)) \
        .toPandas()
    bkey = ["kind", "series_key", "metric", "bucket_ts"]
    got["bucket_ts"] = got["bucket_ts"].astype("datetime64[us]")
    batch["bucket_ts"] = batch["bucket_ts"].astype("datetime64[us]")
    merged = got.merge(batch, on=bkey, suffixes=("", "_b"))
    assert len(merged) == len(got), "every emitted bucket must exist in batch"
    for c in ("cnt", "sum_v", "min_v", "max_v", "last_v"):
        assert (merged[c] == merged[f"{c}_b"]).all(), c
    for s, b in zip(merged["chunk"], merged["chunk_b"]):
        st, sv = codec.decode_all(bytes(s))
        bt, bv = codec.decode_all(bytes(b))
        assert np.array_equal(st, bt)
        assert np.array_equal(sv.view(np.uint64), bv.view(np.uint64))
        assert bytes(s) == bytes(b)  # bit-for-bit, not just value-equal


def test_live_tail_handoff_and_nightly_rebuild(spark, t_small, t_small_df,
                                               tmp_path):
    """The PLANS.md ownership contract, composition-tested end to end:

    1. nightly batch job builds the tier from raw up to a bucket
       boundary T;
    2. a live-tail stream replays the WHOLE source but is fenced with
       valid_event_time(lo=T), so it appends ONLY the post-T closed
       buckets — no bucket is ever double-counted across the
       batch/stream boundary;
    3. every stored row (batch or streamed) equals the all-raw batch
       rollup oracle for its bucket;
    4. the next nightly job over the grown raw re-derives the tier by
       whole-shard replace: byte-identical to a from-scratch build,
       with the streamed tail files reclaimed.
    """
    import os
    import time as _time

    import numpy as np

    from mimir_spark.lineage import TieredStore, run_rollup_job
    from mimir_spark.rollup import rollup_points
    from mimir_spark.streaming.rollup_stream import (
        chunk_store_sink, streaming_rollup_chunks, valid_event_time)

    src = t_small.sort_values(["ts", "conv_id", "turn_idx"]) \
        .reset_index(drop=True)
    # T: a 1h bucket boundary near the 60% quantile, so no bucket
    # straddles the batch/stream ownership fence
    t_q = src["ts"].quantile(0.6)
    T = pd.Timestamp(t_q).floor("1h")

    store = TieredStore(tmp_path / "handoff")
    early = t_small_df.filter(F.col("ts") < F.lit(str(T)))
    run_rollup_job(spark, lambda: early, store, "night1",
                   num_partitions=3, tiers=("1h",))
    batch_rows = store.read_tier(spark, "1h").count()
    assert batch_rows > 0

    # live tail: time-ordered files REPLAYING THE FULL SOURCE (the
    # worst case: a stream pointed at raw that the batch already owns
    # below T); the valid-from fence keeps it out of batch territory
    d = str(tmp_path / "tail_src")
    os.makedirs(d)
    for i, ix in enumerate(np.array_split(np.arange(len(src)), 3)):
        sl = src.iloc[ix]
        sl.to_parquet(f"{d}/{i:03d}.parquet", index=False,
                      coerce_timestamps="us",
                      allow_truncated_timestamps=True)
        _time.sleep(1.1)
    stream = valid_event_time(
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1).parquet(d), lo=str(T))
    q = (streaming_rollup_chunks(stream, tier="1h", shards=4)
         .writeStream.outputMode("append")
         .foreachBatch(chunk_store_sink(store, "1h", app_id="tail",
                                        num_partitions=3))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = store.read_tier(spark, "1h") \
        .withColumn("f", F.input_file_name()).toPandas()
    assert len(got) > batch_rows, "the tail must have appended buckets"
    key = ["kind", "series_key", "metric", "bucket_ts"]
    got["bucket_ts"] = got["bucket_ts"].astype("datetime64[us]")
    # 2. the ownership fence holds exactly: streamed rows only past T,
    # batch rows only before it (NOTE per-(series, bucket) rows are
    # not unique by design — the batch job shards tool series by
    # conv_id, so shards hold associative partials readers re-sum)
    streamed = got["f"].str.contains("stream-tail")
    assert streamed.any() and (~streamed).any()
    assert (got.loc[streamed, "bucket_ts"] >= T).all()
    assert (got.loc[~streamed, "bucket_ts"] < T).all()
    # 3. per-bucket re-aggregated content equals the all-raw batch
    # oracle EXACTLY (all metric values are integral, so the sums are
    # float64-exact) — any fence leak would double-count cnt/sum_v
    oracle = rollup_points(turn_metrics(ingest(t_small_df)),
                           tiers=("1h",)).toPandas()
    oracle["bucket_ts"] = oracle["bucket_ts"].astype("datetime64[us]")
    agg = got.groupby(key, as_index=False).agg(
        cnt=("cnt", "sum"), sum_v=("sum_v", "sum"),
        min_v=("min_v", "min"), max_v=("max_v", "max"))
    merged = agg.merge(oracle, on=key, suffixes=("", "_o"))
    assert len(merged) == len(agg), "stored bucket missing from oracle"
    for c in ("cnt", "sum_v", "min_v", "max_v"):
        assert (merged[c] == merged[f"{c}_o"]).all(), c

    # 4. nightly rebuild over the grown raw reclaims ownership
    run_rollup_job(spark, lambda: t_small_df, store, "night2",
                   num_partitions=3, tiers=("1h",))
    ref = TieredStore(tmp_path / "scratch_ref")
    run_rollup_job(spark, lambda: t_small_df, ref, "ref",
                   num_partitions=3, tiers=("1h",))
    skey = key + ["p"]
    a = store.read_tier(spark, "1h").toPandas() \
        .sort_values(skey, kind="mergesort").reset_index(drop=True)
    b = ref.read_tier(spark, "1h").toPandas() \
        .sort_values(skey, kind="mergesort").reset_index(drop=True)
    cols = [c for c in a.columns if c != "chunk"]
    pd.testing.assert_frame_equal(a[cols], b[cols], check_dtype=False)
    assert all(bytes(x) == bytes(y) for x, y in zip(a["chunk"], b["chunk"]))
    assert not list(store.tier_dir("1h").rglob("stream-*")), \
        "whole-shard replace must reclaim the streamed tail files"


def test_streaming_sessionize(spark, tmp_path):
    """Built-in session-window sessionization through the bounded
    replay: emitted rows == the closed sessions (end <= terminal
    watermark) computed by a pandas oracle with session_window's
    strict-gap rule."""
    import pandas as pd

    from mimir_spark.streaming.rollup_stream import (replay_stream,
                                                     streaming_sessionize)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("user_id", "ts", "event_id")
    src = str(tmp_path / "events_src")
    ev.write.mode("overwrite").parquet(src)
    schema = ev.schema.simpleString()[7:-1].replace(":", " ")

    got = replay_stream(
        spark, src, schema,
        lambda s: streaming_sessionize(s, gap_minutes=30,
                                       delay="10 minutes"),
        query_name="sess_replay")
    got_rows = {(r["user_id"], str(r["session_start"]),
                 str(r["session_end"]), r["n_events"])
                for r in got.collect()}

    pdf = ev.toPandas().sort_values(["user_id", "ts", "event_id"])
    gap = pd.Timedelta(minutes=30)
    wm = pdf["ts"].max() - pd.Timedelta(minutes=10)
    want = set()
    for uid, g in pdf.groupby("user_id"):
        ts = g["ts"].tolist()
        start, last, n = ts[0], ts[0], 1
        sessions = []
        for t in ts[1:]:
            if t - last < gap:      # strictly-less merges
                last, n = t, n + 1
            else:
                sessions.append((start, last + gap, n))
                start, last, n = t, t, 1
        sessions.append((start, last + gap, n))
        for s0, s1, n in sessions:
            if s1 <= wm:            # closed by the terminal watermark
                want.add((uid, str(s0), str(s1), n))
    assert got_rows == want
    assert len(want) > 10


def test_streaming_distinct_sketch_matches_batch(spark, t_small_df,
                                                 stream_dir):
    """Streamed HLL sketches == batch rollup_distinct_sketch on the
    emitted (closed) buckets: identical estimates AND register-exact
    sketches (union is commutative over arrival order), so emitted
    rows can merge straight into a persisted sketch tier."""
    from mimir_spark.rollup import rollup_distinct_sketch
    from mimir_spark.streaming.rollup_stream import (
        replay_stream, streaming_distinct_sketch)

    got = replay_stream(
        spark, stream_dir, TRANSCRIPT_SCHEMA,
        lambda s: streaming_distinct_sketch(s, tier="1h"),
        "sk_stream").toPandas()
    assert len(got) > 0, "stream must emit closed buckets"

    batch = rollup_distinct_sketch(
        turn_metrics(ingest(t_small_df)), "1h") \
        .select(*KEY, "cnt", "n_distinct").toPandas()

    got = got.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    sub = batch.merge(got[KEY], on=KEY, how="inner") \
        .sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert len(sub) == len(got)
    pd.testing.assert_frame_equal(
        got[KEY + ["cnt", "n_distinct"]],
        sub[KEY + ["cnt", "n_distinct"]],
        check_dtype=False,
    )


def test_sketch_store_sink_end_to_end(spark, t_small_df, stream_dir,
                                      tmp_path):
    """streaming_distinct_sketch -> foreachBatch sketch_store_sink:
    the persisted tier accumulates exactly the emitted closed buckets
    across micro-batches (estimates == batch computation), serves
    query_range_distinct, and a re-delivered batch id is a no-op (the
    ledger commits atomically with the swap)."""
    from mimir_spark.lineage import TieredStore
    from mimir_spark.read_path import query_range_distinct
    from mimir_spark.rollup import rollup_distinct_sketch
    from mimir_spark.streaming.rollup_stream import (
        sketch_store_sink, streaming_distinct_sketch)

    store = TieredStore(tmp_path / "skstream_store")
    sink = sketch_store_sink(store, "1h")
    # single data micro-batch (no maxFilesPerTrigger): deterministic
    # emitted set -- with several batches the advancing watermark
    # drops whichever rows the unordered file listing makes "late",
    # which is correct streaming semantics but not comparable to batch
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_dir)
    q = (
        streaming_distinct_sketch(stream, tier="1h")
        .writeStream.outputMode("append").foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = store.read_sketch_tier(spark, "1h") \
        .select(*KEY, "cnt", "n_distinct").toPandas() \
        .sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert len(got) > 0
    batch = rollup_distinct_sketch(turn_metrics(ingest(t_small_df)), "1h") \
        .select(*KEY, "cnt", "n_distinct").toPandas()
    sub = batch.merge(got[KEY], on=KEY, how="inner") \
        .sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert len(sub) == len(got)
    assert (got["cnt"].to_numpy() == sub["cnt"].to_numpy()).all()
    assert (got["n_distinct"].to_numpy()
            == sub["n_distinct"].to_numpy()).all()

    # retry idempotence: re-deliver an applied batch id with data that
    # would double every cnt if it were merged (the ledger is
    # per-date, inside each swapped bucket_date dir; entries are
    # "{app_id}/{batch_id}" — the default sink app_id is "stream")
    import json
    ledgers = sorted(store.sketch_dir("1h")
                     .glob("bucket_date=*/_applied_batches.json"))
    assert ledgers
    entries = sorted({e for f in ledgers
                      for e in json.loads(f.read_text())})
    assert entries and all(e.startswith("stream/") for e in entries)
    applied = sorted(int(e.split("/", 1)[1]) for e in entries)
    poison = store.read_sketch_tier(spark, "1h") \
        .select("kind", "series_key", "metric",
                F.expr("cast(bucket_ts as timestamp_ntz)")
                .alias("bucket_ts"),
                "cnt", "n_distinct", "distinct_sketch")
    sink(poison, applied[-1])
    again = store.read_sketch_tier(spark, "1h") \
        .select(*KEY, "cnt").toPandas() \
        .sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert (again["cnt"].to_numpy() == got["cnt"].to_numpy()).all()

    # a NEW batch id with disjoint buckets accumulates instead of
    # replacing: row count doubles, original buckets keep their cnt
    shifted = poison.withColumn(
        "bucket_ts", F.expr("bucket_ts + INTERVAL 1000 HOURS"))
    sink(shifted, max(applied) + 1)
    merged = store.read_sketch_tier(spark, "1h") \
        .select(*KEY, "cnt").toPandas()
    assert len(merged) == 2 * len(got)
    orig = merged.merge(got[KEY], on=KEY, how="inner") \
        .sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert (orig["cnt"].to_numpy() == got["cnt"].to_numpy()).all()

    # crash-resume: a batch spanning two dates where one date already
    # carries the batch id (the "swapped before crash" date) merges
    # ONLY the other date on retry
    dates = sorted(d for d in store.sketch_dir("1h").glob("bucket_date=*"))
    d_done, d_todo = dates[0], dates[-1]
    bid = max(applied) + 2
    done_applied = json.loads((d_done / "_applied_batches.json").read_text())
    (d_done / "_applied_batches.json").write_text(
        json.dumps(done_applied + [f"stream/{bid}"]))
    fresh = store.read_sketch_tier(spark, "1h") \
        .select("kind", "series_key", "metric",
                F.expr("cast(bucket_ts as timestamp_ntz)")
                .alias("bucket_ts"),
                "cnt", "distinct_sketch")
    two_dates = fresh.filter(
        F.to_date(F.col("bucket_ts")).isin(
            [d_done.name.split("=")[1], d_todo.name.split("=")[1]]))
    before = store.read_sketch_tier(spark, "1h") \
        .groupBy("bucket_date").sum("cnt").toPandas() \
        .set_index("bucket_date")["sum(cnt)"].to_dict()
    sink(two_dates, bid)
    after = store.read_sketch_tier(spark, "1h") \
        .groupBy("bucket_date").sum("cnt").toPandas() \
        .set_index("bucket_date")["sum(cnt)"].to_dict()
    kd = d_done.name.split("=")[1]
    kt = d_todo.name.split("=")[1]
    import datetime as _dt
    kd, kt = _dt.date.fromisoformat(kd), _dt.date.fromisoformat(kt)
    assert after[kd] == before[kd]          # already-swapped date untouched
    assert after[kt] == 2 * before[kt]      # pending date merged on retry

    # and the tier serves the dashboard verb
    assert query_range_distinct(spark, store, "turn_rate", step="2h",
                                kind="conv", tier="1h").count() > 0


def test_sketch_sink_crash_windows_and_app_id(spark, t_small_df, tmp_path,
                                              monkeypatch):
    """The sink's swap protocol never loses a date dir, whichever
    window a crash lands in, and ledger entries are scoped per app_id
    (Delta txnAppId pattern — fresh-checkpoint restarts under a new
    app_id re-merge instead of silently dropping)."""
    import json

    from mimir_spark import lineage
    from mimir_spark.lineage import TieredStore
    from mimir_spark.rollup import rollup_distinct_sketch
    from mimir_spark.streaming.rollup_stream import (
        _SKETCH_LEDGER, sketch_store_sink)

    store = TieredStore(tmp_path / "crash_store")
    sink = sketch_store_sink(store, "1h", app_id="appA")
    batch = rollup_distinct_sketch(
        turn_metrics(ingest(t_small_df)), "1h") \
        .select("kind", "series_key", "metric",
                F.expr("cast(bucket_ts as timestamp_ntz)")
                .alias("bucket_ts"),
                "cnt", "distinct_sketch")
    sink(batch, 0)
    root = store.sketch_dir("1h")
    dates = sorted(root.glob("bucket_date=*"))
    assert dates
    base = store.read_sketch_tier(spark, "1h") \
        .select(*KEY, "cnt").toPandas() \
        .sort_values(KEY, kind="mergesort").reset_index(drop=True)

    d = dates[0].name.split("=", 1)[1]
    ddir = root / f"bucket_date={d}"
    old = root / f".old-bucket_date={d}"
    staged = root / f".stage-bucket_date={d}"

    def crash_at(step, write, batch_id):
        """Run ``write`` with a crash at the first hit of failpoint
        ``step`` — date d, the batch's first date."""
        def failpoint(name):
            if name == step:
                raise RuntimeError(f"failpoint {name}")
        with monkeypatch.context() as m:
            m.setattr(lineage, "_failpoint", failpoint)
            with pytest.raises(RuntimeError, match="failpoint"):
                write(batch, batch_id)

    # window A: crash after the merged dir swapped in, before the old
    # one was removed during batch 1 -> retry keeps the merge (the
    # ledger holds appA/1), deletes the old dir, merges the other dates
    crash_at("swap_dir.moved_in", sink, 1)
    assert old.exists()
    sink(batch, 1)
    assert ddir.exists()
    assert "appA/1" in json.loads((ddir / _SKETCH_LEDGER).read_text())
    assert not old.exists()
    assert not staged.exists()

    # window B: crash between live->old and staged->live during batch
    # 2 (live missing) -> retry rolls BACK to the old data, whose
    # ledger lacks appA/2, then re-merges normally
    before = json.loads((ddir / _SKETCH_LEDGER).read_text())
    crash_at("swap_dir.moved_aside", sink, 2)
    assert not ddir.exists() and old.exists()
    sink(batch, 2)
    assert ddir.exists()
    after = json.loads((ddir / _SKETCH_LEDGER).read_text())
    assert after == before + ["appA/2"]
    assert not old.exists()

    # app_id scoping: batch id 0 under a DIFFERENT app_id is a new
    # transaction (merges), while under the same app_id it's a no-op
    batch_total = int(base["cnt"].sum())
    cnt_before = store.read_sketch_tier(spark, "1h") \
        .agg(F.sum("cnt")).first()[0]
    sink(batch, 0)  # same app, applied -> skipped
    assert store.read_sketch_tier(spark, "1h") \
        .agg(F.sum("cnt")).first()[0] == cnt_before
    sink_b = sketch_store_sink(store, "1h", app_id="appB")
    sink_b(batch, 0)  # new incarnation -> merges
    assert store.read_sketch_tier(spark, "1h") \
        .agg(F.sum("cnt")).first()[0] == cnt_before + batch_total

    # a staged dir a crash left before the swap is rebuilt by the retry
    crash_at("swap_dir.staged", sink_b, 1)
    assert staged.exists()
    sink_b(batch, 1)
    assert not list(root.glob(".old-*")) and not list(root.glob(".stage-*"))

    # pre-app_id ledgers (bare ints) are read as THIS incarnation's
    # applied batches: re-delivering such a batch id stays a no-op
    led = ddir / _SKETCH_LEDGER
    entries = json.loads(led.read_text())
    led.write_text(json.dumps(
        [int(e.split("/")[1]) if e.startswith("appA/") else e
         for e in entries]))  # downgrade appA entries to the old format
    total = store.read_sketch_tier(spark, "1h").agg(F.sum("cnt")).first()[0]
    sink(batch, 2)  # appA/2 was applied (now stored as bare 2)
    assert store.read_sketch_tier(spark, "1h") \
        .agg(F.sum("cnt")).first()[0] == total


def test_chunk_store_sink_end_to_end(spark, t_small_df, stream_dir,
                                     tmp_path):
    """streaming_rollup_chunks -> foreachBatch chunk_store_sink: the
    persisted tier holds exactly the emitted closed buckets, serves
    series_points with a correct decode roundtrip, a re-delivered
    batch id is a no-op (deterministic file names + per-date ledger),
    and the chunk bytes for emitted buckets equal the batch job's."""
    import json

    from mimir_spark import codec
    from mimir_spark.lineage import TieredStore
    from mimir_spark.read_path import series_points
    from mimir_spark.rollup import rollup_points
    from mimir_spark.streaming.rollup_stream import (
        chunk_store_sink, streaming_rollup_chunks)

    store = TieredStore(tmp_path / "chstream_store")
    sink = chunk_store_sink(store, "1h", num_partitions=4)
    # single data micro-batch: deterministic emitted set (see the
    # sketch-sink test for why)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_dir)
    q = (
        streaming_rollup_chunks(stream, tier="1h")
        .writeStream.outputMode("append").foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "chckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    key = ["kind", "series_key", "metric", "bucket_ts"]
    got = store.read_tier(spark, "1h") \
        .select(*key, "cnt", "sum_v", "chunk").toPandas() \
        .sort_values(key, kind="mergesort").reset_index(drop=True)
    assert len(got) > 0
    # every persisted bucket matches the batch one-pass writer,
    # chunk bytes included (the stream==batch invariant, now held
    # through the store)
    batch = rollup_points(turn_metrics(ingest(t_small_df)),
                          tiers=("1h",)) \
        .select(*key, "cnt", "sum_v", "chunk").toPandas()
    sub = batch.merge(got[key], on=key, how="inner") \
        .sort_values(key, kind="mergesort").reset_index(drop=True)
    assert len(sub) == len(got)
    assert (got["cnt"].to_numpy() == sub["cnt"].to_numpy()).all()
    assert all(bytes(a) == bytes(b)
               for a, b in zip(got["chunk"], sub["chunk"]))

    # serving: pruned decode roundtrip straight off the streamed tier
    row = got[got["cnt"] >= 3].iloc[0]
    pts = series_points(spark, store, "1h", kind=row["kind"],
                        series_key=row["series_key"],
                        metric=row["metric"]).toPandas()
    assert len(pts) >= int(row["cnt"])

    # retry idempotence: re-deliver an applied batch with poison data
    # that would duplicate rows if appended again
    leds = sorted((store.root / "_streaming" / "tier=1h")
                  .glob("bucket_date=*.json"))
    assert leds
    entries = sorted({e for f in leds for e in json.loads(f.read_text())})
    bid = max(int(e.split("/")[1]) for e in entries)
    poison = store.read_tier(spark, "1h") \
        .select(*key, "cnt", "sum_v", "min_v", "max_v", "last_v", "chunk") \
        .withColumn("bucket_ts",
                    F.expr("cast(bucket_ts as timestamp_ntz)"))
    n_before = store.read_tier(spark, "1h").count()
    sink(poison, bid)
    assert store.read_tier(spark, "1h").count() == n_before

    # a NEW batch id with shifted buckets appends
    shifted = poison.withColumn(
        "bucket_ts", F.expr("bucket_ts + INTERVAL 5000 HOURS"))
    sink(shifted, bid + 1)
    assert store.read_tier(spark, "1h").count() == 2 * n_before

    # the batch cascade composes with the streamed layout (the LSM
    # late-tail repair role): store-level 1h -> 1d over the
    # multi-file-per-leaf streamed tier preserves every point
    from mimir_spark.read_path import decode_points

    assert store.compact_tier(spark, "1h", "1d") > 0
    pts_1h = decode_points(store.read_tier(spark, "1h")).count()
    pts_1d = decode_points(store.read_tier(spark, "1d")).count()
    assert pts_1d == pts_1h > 0


def _chunk_batch(spark):
    """A static micro-batch shaped like streaming_rollup_chunks output:
    two bucket dates, series spread over several of 4 shards, rows
    shuffled, keys whose byte order differs from case/locale order."""
    import numpy as np

    from mimir_spark.streaming.rollup_stream import ROLLUP_CHUNK_SCHEMA

    rng = np.random.default_rng(11)
    series = [("conv", k) for k in ("c-01", "C-02", "c-é03", "c-z4",
                                    "c-05", "c-06")] + \
        [("tool", k) for k in ("search", "Shell", "éditeur", "zip")]
    buckets = pd.date_range("2026-01-05 22:00", periods=4, freq="1h")
    rows = [(kind, key, metric, ts) for kind, key in series
            for metric in ("turn_rate", "token_volume") for ts in buckets]
    order = rng.permutation(len(rows))
    n = len(rows)
    cnt = rng.integers(1, 40, n)
    pdf = pd.DataFrame({
        "kind": [rows[i][0] for i in order],
        "series_key": [rows[i][1] for i in order],
        "metric": [rows[i][2] for i in order],
        "bucket_ts": [rows[i][3] for i in order],
        "cnt": cnt, "sum_v": cnt * 2.5, "min_v": rng.random(n),
        "max_v": 1.0 + rng.random(n), "last_v": rng.random(n),
        "chunk": [rng.bytes(int(k)) for k in rng.integers(8, 90, n)],
    })
    return spark.createDataFrame(pdf, schema=ROLLUP_CHUNK_SCHEMA)


def _stream_files(store) -> dict:
    """relative path -> rows of every streamed chunk file in a store"""
    import pyarrow.parquet as pq

    return {str(f.relative_to(store.root)): pq.read_table(f).to_pylist()
            for f in sorted(store.tier_dir("1h").rglob("stream-*"))}


def test_chunk_sink_runs_one_spark_job_per_batch(spark, tmp_path):
    """The sink's only Spark action is the batch's Arrow collect: no
    stats job, no per-date write job."""
    from mimir_spark.lineage import TieredStore
    from mimir_spark.streaming.rollup_stream import chunk_store_sink

    batch = _chunk_batch(spark)
    sink = chunk_store_sink(TieredStore(tmp_path / "s"), "1h",
                            num_partitions=4)
    sc = spark.sparkContext
    group = f"chunk-sink-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "chunk_store_sink")
    try:
        sink(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_chunk_sink_files_match_spark_writer(spark, tmp_path):
    """The driver-side Arrow write lands what the Spark writer
    (repartition("p").sortWithinPartitions(...).write.partitionBy("p")
    per date) lands: one file per (p, date) leaf, the same rows in the
    same order, the same parquet column types (INT96 bucket_ts), the
    same metrics sidecar line and ledger entry."""
    import json

    import pyarrow.parquet as pq

    from mimir_spark.lineage import _STORE_SORT, TieredStore
    from mimir_spark.streaming.rollup_stream import (_NTZ_TO_INSTANT,
                                                     chunk_store_sink)

    batch = _chunk_batch(spark)
    store = TieredStore(tmp_path / "s")
    chunk_store_sink(store, "1h", app_id="app", num_partitions=4)(batch, 7)

    shaped = (
        batch.withColumn("bucket_ts", F.expr(_NTZ_TO_INSTANT))
        .withColumn("p", F.pmod(F.xxhash64(F.concat_ws(
            "\x1f", "kind", "series_key")), F.lit(4)))
        .withColumn("bucket_date", F.to_date("bucket_ts")))
    stats = {str(r["bucket_date"]): r.asDict() for r in
             shaped.groupBy("bucket_date").agg(
                 F.count("*").alias("rows"),
                 F.sum("cnt").alias("points"),
                 F.sum(F.octet_length("chunk")).alias("chunk_bytes"))
             .collect()}
    dates = sorted(stats)
    assert len(dates) == 2
    ref = tmp_path / "ref"
    for d in dates:
        (shaped.filter(F.col("bucket_date") == d).drop("bucket_date")
         .repartition("p").sortWithinPartitions("p", *_STORE_SORT)
         .write.mode("overwrite").partitionBy("p")
         .parquet(str(ref / d)))

    n_leaves = 0
    for d in dates:
        pdirs = sorted((ref / d).glob("p=*"))
        assert len(pdirs) > 1, "the batch must span several shards"
        for pdir in pdirs:
            (want,) = pdir.glob("*.parquet")
            leaf = store.tier_dir("1h") / pdir.name / f"bucket_date={d}"
            assert [f.name for f in leaf.iterdir()] == \
                ["stream-app-7.parquet"]
            got = leaf / "stream-app-7.parquet"
            assert pq.read_table(got).to_pylist() == \
                pq.read_table(want).to_pylist()
            gs, ws = pq.ParquetFile(got).schema, pq.ParquetFile(want).schema
            assert gs.names == ws.names
            for i in range(len(gs)):
                g, w = gs.column(i), ws.column(i)
                assert (g.physical_type, str(g.logical_type),
                        g.max_definition_level) == \
                    (w.physical_type, str(w.logical_type),
                     w.max_definition_level), g.name
            assert gs.column(gs.names.index("bucket_ts")).physical_type \
                == "INT96"
            n_leaves += 1
    assert len(list(store.tier_dir("1h").rglob("*.parquet"))) == n_leaves

    led_dir = store.root / "_streaming" / "tier=1h"
    assert (led_dir / "metrics.jsonl").read_text().splitlines() == [
        json.dumps({"app": "app", "batch": 7, "date": d,
                    **{k: stats[d][k]
                       for k in ("rows", "points", "chunk_bytes")}})
        for d in dates]
    for d in dates:
        assert json.loads((led_dir / f"bucket_date={d}.json")
                          .read_text()) == ["app/7"]


def test_chunk_sink_codec_follows_session(spark, tmp_path):
    """Files carry the session's parquet codec; a codec pyarrow cannot
    write fails before any file or ledger lands."""
    import pyarrow.parquet as pq

    from mimir_spark.lineage import TieredStore
    from mimir_spark.streaming.rollup_stream import chunk_store_sink

    batch = _chunk_batch(spark)
    key = "spark.sql.parquet.compression.codec"
    prev = spark.conf.get(key)

    def codecs(store) -> set:
        out = set()
        for f in store.tier_dir("1h").rglob("stream-*"):
            md = pq.ParquetFile(f).metadata
            out |= {md.row_group(g).column(c).compression
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)}
        return out

    try:
        for conf, want in (("zstd", {"ZSTD"}), ("snappy", {"SNAPPY"})):
            spark.conf.set(key, conf)
            store = TieredStore(tmp_path / conf)
            chunk_store_sink(store, "1h", num_partitions=4)(batch, 0)
            assert codecs(store) == want
        spark.conf.set(key, "lzo")
        store = TieredStore(tmp_path / "lzo")
        with pytest.raises(ValueError, match="lzo"):
            chunk_store_sink(store, "1h", num_partitions=4)(batch, 0)
        assert not store.root.exists()
    finally:
        spark.conf.set(key, prev)


def test_chunk_sink_mixed_leaf_reads_one_schema(spark, t_small_df,
                                                tmp_path):
    """A leaf holding a batch-job file and a streamed file reads under
    one schema through read_tier, and both carry the same instants, in
    UTC and in a non-UTC session time zone."""
    from mimir_spark.lineage import TieredStore, run_rollup_job
    from mimir_spark.streaming.rollup_stream import chunk_store_sink

    store = TieredStore(tmp_path / "mixed")
    run_rollup_job(spark, lambda: t_small_df, store, "night",
                   num_partitions=2, tiers=("1h",))
    batch_schema = store.read_tier(spark, "1h").schema
    cols = ["kind", "series_key", "metric", "bucket_ts", "cnt", "sum_v",
            "min_v", "max_v", "last_v", "chunk"]
    # replay the batch rows as a streamed micro-batch (tz-naive UTC
    # bucket_ts, as streaming_rollup_chunks emits them)
    replay = store.read_tier(spark, "1h").select(*cols).withColumn(
        "bucket_ts", F.expr("cast(bucket_ts as timestamp_ntz)"))
    chunk_store_sink(store, "1h", num_partitions=2)(replay, 0)
    mixed = [leaf for leaf in store.tier_dir("1h").glob("p=*/bucket_date=*")
             if any(leaf.glob("stream-*"))
             and any(f.name.startswith("part-") for f in leaf.iterdir())]
    assert mixed, "some leaf must hold both a batch and a streamed file"

    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set(tz_key, tz)
            df = store.read_tier(spark, "1h")
            assert df.schema == batch_schema
            rows = df.withColumn("bucket_us", F.unix_micros("bucket_ts")) \
                .withColumn("streamed", F.input_file_name()
                            .contains("stream-")) \
                .select("streamed", "bucket_us",
                        *[c for c in cols if c != "bucket_ts"]) \
                .toPandas()
            key = ["kind", "series_key", "metric", "bucket_us"]
            parts = [rows[rows["streamed"] == s].drop(columns="streamed")
                     .sort_values(key, kind="mergesort")
                     .reset_index(drop=True) for s in (False, True)]
            assert len(parts[0]) == len(parts[1]) > 0
            pd.testing.assert_frame_equal(parts[0], parts[1])
    finally:
        spark.conf.set(tz_key, prev)


def test_compact_duplicate_minutes_in_one_leaf(spark, t_small_df, tmp_path):
    """A 1m leaf holding a batch-job file and a streamed file that
    share (series, minute) buckets compacts to the same bytes every
    time, the two minutes merged in (bucket_ts, chunk bytes) order."""
    import numpy as np

    from mimir_spark import codec
    from mimir_spark.lineage import TieredStore, run_rollup_job
    from mimir_spark.streaming.rollup_stream import chunk_store_sink

    store = TieredStore(tmp_path / "dup")
    # one shard on both writers, so every streamed row lands in the
    # leaf that holds its batch twin
    run_rollup_job(spark, lambda: t_small_df, store, "night",
                   num_partitions=1, tiers=("1m",))
    cols = ["kind", "series_key", "metric", "bucket_ts", "cnt", "sum_v",
            "min_v", "max_v", "last_v", "chunk"]
    batch = store.read_tier(spark, "1m").select(*cols).toPandas()
    twin = batch.iloc[::3].copy()
    chunks = []
    for i, c in enumerate(twin["chunk"]):
        ts, v = codec.decode_all(bytes(c))
        chunks.append(codec.encode_chunk(ts, v + (0.5 if i % 2 else -0.5)))
    twin["chunk"] = chunks
    replay = spark.createDataFrame(twin, store.read_tier(spark, "1m")
                                   .select(*cols).schema)
    chunk_store_sink(store, "1m", num_partitions=1)(
        replay.withColumn("bucket_ts",
                          F.expr("cast(bucket_ts as timestamp_ntz)")), 0)
    assert any(store.tier_dir("1m").glob("p=0/bucket_date=*/stream-*"))

    fine = pd.concat([batch, twin], ignore_index=True)
    fine["hour"] = fine["bucket_ts"].dt.floor("h")
    want = {}
    for key, g in fine.groupby(["kind", "series_key", "metric", "hour"]):
        parts = sorted(zip(g["bucket_ts"], map(bytes, g["chunk"])))
        ts, v = zip(*(codec.decode_all(c) for _, c in parts))
        want[key] = codec.encode_chunk(np.concatenate(ts), np.concatenate(v))

    runs = []
    for _ in range(2):
        store.compact_tier(spark, "1m", "1h")
        got = store.read_tier(spark, "1h").toPandas()
        runs.append({(r.kind, r.series_key, r.metric, r.bucket_ts):
                     bytes(r.chunk) for r in got.itertuples(index=False)})
    assert runs[0] == runs[1] == want


def test_chunk_sink_crash_between_files_and_ledger(spark, tmp_path,
                                                   monkeypatch):
    """Failpoint: the batch's files have moved into the leaves but the
    metrics line and ledger never landed. Re-delivering the same
    batch id leaves one file per leaf with unchanged rows and the
    ledger lists the entry once."""
    import json

    import mimir_spark.streaming.rollup_stream as rs
    from mimir_spark.lineage import TieredStore

    batch = _chunk_batch(spark)
    ref = TieredStore(tmp_path / "ref")
    rs.chunk_store_sink(ref, "1h", app_id="app", num_partitions=4)(batch, 3)

    store = TieredStore(tmp_path / "crash")
    sink = rs.chunk_store_sink(store, "1h", app_id="app", num_partitions=4)

    def failpoint(*args, **kwargs):
        raise RuntimeError("failpoint: after the file moves")

    with monkeypatch.context() as m:
        m.setattr(rs, "_append_stream_metrics", failpoint)
        with pytest.raises(RuntimeError, match="failpoint"):
            sink(batch, 3)
    assert _stream_files(store), "the files moved before the failure"
    led_dir = store.root / "_streaming" / "tier=1h"
    assert not list(led_dir.glob("bucket_date=*.json"))

    sink(batch, 3)
    assert _stream_files(store) == _stream_files(ref)
    for leaf in store.tier_dir("1h").glob("p=*/bucket_date=*"):
        assert len(list(leaf.iterdir())) == 1
    leds = sorted(led_dir.glob("bucket_date=*.json"))
    assert len(leds) == 2
    assert all(json.loads(f.read_text()) == ["app/3"] for f in leds)
    assert (led_dir / "metrics.jsonl").read_text() == \
        (ref.root / "_streaming" / "tier=1h" / "metrics.jsonl").read_text()
    assert not list((store.root / "_streaming").glob(".stage-*"))


def test_chunk_sink_interrupted_ledger_write_keeps_previous(
        spark, tmp_path, monkeypatch):
    """A kill in the middle of writing a date's ledger leaves the
    previous ledger whole (a truncated one would fail every later
    batch in json.loads): the retry reads it and lands the batch
    once."""
    import json
    import pathlib

    import mimir_spark.streaming.rollup_stream as rs
    from mimir_spark.lineage import TieredStore

    batch = _chunk_batch(spark)
    ref = TieredStore(tmp_path / "ref")
    ref_sink = rs.chunk_store_sink(ref, "1h", app_id="app",
                                   num_partitions=4)
    ref_sink(batch, 0)
    ref_sink(batch, 1)

    store = TieredStore(tmp_path / "cut")
    sink = rs.chunk_store_sink(store, "1h", app_id="app", num_partitions=4)
    sink(batch, 0)
    real = pathlib.Path.write_text

    def torn(self, data, *args, **kwargs):
        real(self, data[:len(data) // 2], *args, **kwargs)
        raise RuntimeError("killed mid-write")

    with monkeypatch.context() as m:
        m.setattr(pathlib.Path, "write_text", torn)
        with pytest.raises(RuntimeError, match="mid-write"):
            sink(batch, 1)
    leds = sorted((store.root / "_streaming" / "tier=1h")
                  .glob("bucket_date=*.json"))
    assert len(leds) == 2
    assert all(json.loads(f.read_text()) == ["app/0"] for f in leds)

    sink(batch, 1)
    assert all(json.loads(f.read_text()) == ["app/0", "app/1"]
               for f in leds)
    assert _stream_files(store) == _stream_files(ref)


def test_streaming_histogram_matches_batch(spark, t_small_df,
                                           stream_dir):
    """Streamed histogram BIN rows == the batch histogram's exploded
    bins on the emitted (closed) buckets — the grid is shared
    (histogram._bin_index), so streamed and batch tiers merge
    bit-identically."""
    from mimir_spark import histogram as H
    from mimir_spark.streaming.rollup_stream import (replay_stream,
                                                     streaming_histogram)

    got = replay_stream(
        spark, stream_dir, TRANSCRIPT_SCHEMA,
        lambda s: streaming_histogram(s, tier="1h"),
        "hist_stream").toPandas()
    assert len(got) > 0, "stream must emit closed bins"

    bkey = KEY + ["alpha", "sgn", "idx"]
    batch = H._explode_bins(
        H.rollup_histogram(turn_metrics(ingest(t_small_df)), "1h")) \
        .toPandas()
    got = got.sort_values(bkey, kind="mergesort").reset_index(drop=True)
    sub = batch.merge(got[KEY].drop_duplicates(), on=KEY, how="inner") \
        .sort_values(bkey, kind="mergesort").reset_index(drop=True)
    assert len(sub) == len(got)
    for c in ("sgn", "idx", "c"):
        assert (got[c].to_numpy() == sub[c].to_numpy()).all(), c


def test_hist_store_sink_end_to_end(spark, t_small_df, stream_dir,
                                    tmp_path):
    """streaming_histogram -> foreachBatch hist_store_sink: the
    persisted histogram tier equals the batch rollup_histogram rows
    (maps included) on the emitted buckets, serves
    query_range_quantile, and a re-delivered batch id is a no-op."""
    import json

    from mimir_spark import histogram as H
    from mimir_spark.lineage import TieredStore
    from mimir_spark.read_path import query_range_quantile
    from mimir_spark.streaming.rollup_stream import (hist_store_sink,
                                                     streaming_histogram)

    store = TieredStore(tmp_path / "hstream_store")
    sink = hist_store_sink(store, "1h")
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(stream_dir)
    q = (
        streaming_histogram(stream, tier="1h")
        .writeStream.outputMode("append").foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cols = [c for c in H._OUT_COLS if c != "tier"]
    got = store.read_hist_tier(spark, "1h") \
        .select(*cols).toPandas() \
        .sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert len(got) > 0
    batch = H.rollup_histogram(turn_metrics(ingest(t_small_df)), "1h") \
        .select(*cols).toPandas()
    sub = batch.merge(got[KEY], on=KEY, how="inner") \
        .sort_values(KEY, kind="mergesort").reset_index(drop=True)
    assert len(sub) == len(got)
    pd.testing.assert_frame_equal(got, sub, check_dtype=False)

    # the streamed tier serves the quantile verb
    served = query_range_quantile(spark, store, "turn_rate", step="2h",
                                  kind="tool")
    assert served.count() > 0

    # retry idempotence: re-deliver an applied batch id with bin rows
    # that would double every count if merged
    ledgers = sorted(store.hist_dir("1h")
                     .glob("bucket_date=*/_applied_batches.json"))
    assert ledgers
    entries = sorted({e for f in ledgers
                      for e in json.loads(f.read_text())})
    applied = sorted(int(e.split("/", 1)[1]) for e in entries)
    poison = H._explode_bins(
        store.read_hist_tier(spark, "1h").drop("bucket_date")) \
        .withColumn("bucket_ts",
                    F.expr("cast(bucket_ts as timestamp_ntz)"))
    sink(poison, applied[-1])
    again = store.read_hist_tier(spark, "1h") \
        .select(*cols).toPandas() \
        .sort_values(KEY, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, again, check_dtype=False)


def test_stream_job_no_chunks_mode(spark, t_small_df, tmp_path):
    """--no-chunks runs only the windowed aux tiers: the histogram
    tier lands and serves, no chunk tier is written, and the flag
    without any aux sink is a loud CLI error."""
    import sys

    sys.path.insert(0, "jobs")
    try:
        import stream_job
    finally:
        sys.path.pop(0)

    from mimir_spark.lineage import TieredStore

    src = str(tmp_path / "src")
    t_small_df.limit(2000).write.parquet(src)
    store_dir = str(tmp_path / "store")
    assert stream_job.main(
        ["--source", src, "--store", store_dir, "--tier", "1h",
         "--once", "--histogram", "--no-chunks",
         "--checkpoint", str(tmp_path / "ckpt")]) == 0
    s = TieredStore(store_dir)
    assert s.read_hist_tier(spark, "1h").count() > 0
    assert not s.tier_dir("1h").exists()

    with pytest.raises(SystemExit):
        stream_job.main(["--source", src, "--store", store_dir,
                         "--tier", "1h", "--once", "--no-chunks"])

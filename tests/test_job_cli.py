"""The query-side CLI (jobs/query_job.py) drives the same code paths
as the library API — in-process (get_spark getOrCreate's the test
session), both modes, parquet output checked against the direct call."""

from __future__ import annotations

import sys

import pandas as pd
import pytest

from mimir_spark.fixtures import TRANSCRIPT_SCHEMA
from mimir_spark.lineage import TieredStore, run_rollup_job
from mimir_spark.read_path import query_range, series_points

sys.path.insert(0, "/root/repo/jobs")
import query_job  # noqa: E402


@pytest.fixture(scope="module")
def store(spark, t_small_df, tmp_path_factory):
    d = tmp_path_factory.mktemp("qcli") / "store"
    s = TieredStore(d)
    run_rollup_job(spark, lambda: t_small_df, s, "qcli", num_partitions=2)
    return s


def _canon(pdf):
    cols = list(pdf.columns)
    return pdf.sort_values(cols, kind="mergesort").reset_index(drop=True)


def test_cli_range_equals_api(spark, store, tmp_path):
    out = str(tmp_path / "range_out")
    rc = query_job.main([
        "--store", str(store.root), "range", "--metric", "token_volume",
        "--agg", "sum", "--step", "2h", "--kind", "conv",
        "--fill", "locf", "--out", out])
    assert rc == 0
    got = _canon(spark.read.parquet(out).toPandas())
    want = _canon(query_range(spark, store, "token_volume", agg="sum",
                              step="2h", kind="conv", fill="locf").toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) > 0


def test_cli_points_equals_api(spark, store, tmp_path):
    out = str(tmp_path / "points_out")
    rc = query_job.main([
        "--store", str(store.root), "points", "--tier", "1m",
        "--kind", "conv", "--metric", "turn_rate", "--out", out])
    assert rc == 0
    got = _canon(spark.read.parquet(out).toPandas())
    want = _canon(series_points(spark, store, "1m", kind="conv",
                                metric="turn_rate").toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) > 0


def test_cli_rate_equals_api(spark, store, tmp_path):
    from mimir_spark.read_path import query_range_rate

    out = str(tmp_path / "rate_out")
    rc = query_job.main([
        "--store", str(store.root), "rate", "--metric", "token_volume",
        "--step", "2h", "--kind", "conv", "--per-second", "--out", out])
    assert rc == 0
    got = _canon(spark.read.parquet(out).toPandas())
    want = _canon(query_range_rate(spark, store, "token_volume", step="2h",
                                   kind="conv", per_second=True).toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) > 0


def test_cli_lttb_equals_api(spark, store, tmp_path):
    from mimir_spark.downsample import downsample_lttb

    out = str(tmp_path / "lttb_out")
    rc = query_job.main([
        "--store", str(store.root), "lttb", "--metric", "token_volume",
        "--kind", "conv", "--points", "10", "--out", out])
    assert rc == 0
    got = _canon(spark.read.parquet(out).toPandas())
    want = _canon(downsample_lttb(
        series_points(spark, store, "1m", kind="conv",
                      metric="token_volume"), 10).toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) > 0
    assert got.groupby("series_key").size().max() <= 10


def test_corpus_job_cli(spark, tmp_path):
    """The corpus-prep CLI end to end: staged stages, clean corpus +
    _report written, report counts consistent, staging cleaned up."""
    import corpus_job

    src = str(tmp_path / "docs_in")
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .limit(300).write.parquet(src)
    out = tmp_path / "clean"
    rc = corpus_job.main(["--input", src, "--output", str(out),
                          "--max-df", "200"])
    assert rc == 0
    clean = spark.read.parquet(str(out))
    report = {r["stage"]: r["docs_kept"] for r in
              spark.read.parquet(str(out / "_report")).collect()}
    assert report["input"] == 300
    assert clean.count() == report["neardup"] <= report["exact"] \
        <= report["quality"] <= 300
    assert not (tmp_path / "clean_staging").exists()


def test_cli_distinct_and_sketch_flag(spark, tmp_path):
    """rollup_job --distinct-sketch writes a persisted sketch tier the
    query CLI's 'distinct' mode serves; estimates equal exact distinct
    counts at fixture cardinalities."""
    import sys as _sys

    import rollup_job
    from pyspark.sql import functions as F

    from mimir_spark.fixtures import transcripts_df
    from mimir_spark.ingest import ingest, turn_metrics

    src = str(tmp_path / "turns_in")
    transcripts_df(spark, 150).write.parquet(src)
    store_dir = tmp_path / "dstore"
    rc = rollup_job.main(["--input", src, "--output", str(store_dir),
                          "--job-id", "dj", "--partitions", "2",
                          "--distinct-sketch", "1h:conv_id"])
    assert rc == 0
    assert (store_dir / "sketch=1h").is_dir()
    out = str(tmp_path / "dist_out")
    rc = query_job.main(["--store", str(store_dir), "distinct",
                         "--metric", "turn_rate", "--step", "2h",
                         "--kind", "tool", "--out", out])
    assert rc == 0
    got = _canon(spark.read.parquet(out).toPandas())
    us = F.unix_micros(F.col("ts"))
    exact = _canon(
        turn_metrics(ingest(spark.read.parquet(src)))
        .filter("kind = 'tool' AND metric = 'turn_rate'")
        .groupBy("kind", "series_key", "metric",
                 F.timestamp_micros(us - us % F.lit(7200 * 1_000_000))
                 .alias("bucket_ts"))
        .agg(F.count_distinct("conv_id").alias("n_distinct"),
             F.count("*").alias("cnt")).toPandas())
    pd.testing.assert_frame_equal(
        got[["bucket_ts", "cnt", "kind", "metric", "n_distinct",
             "series_key"]],
        exact[["bucket_ts", "cnt", "kind", "metric", "n_distinct",
               "series_key"]],
        check_dtype=False)
    assert len(got) > 0


def test_cli_multi_tier_sketch_cascades_from_finest(spark, tmp_path):
    """--distinct-sketch with several tiers for one column scans the
    source ONCE (finest tier) and cascades the coarser tiers from the
    persisted sketches; the cascaded 1d tier equals a direct
    computation from raw points."""
    import rollup_job
    from pyspark.sql import functions as F

    from mimir_spark.fixtures import transcripts_df
    from mimir_spark.ingest import ingest, turn_metrics
    from mimir_spark.lineage import TieredStore

    src = str(tmp_path / "turns_in_mt")
    transcripts_df(spark, 150).write.parquet(src)
    store_dir = tmp_path / "mtstore"
    rc = rollup_job.main(["--input", src, "--output", str(store_dir),
                          "--job-id", "mt", "--partitions", "2",
                          "--distinct-sketch",
                          "1d:conv_id,1h:conv_id"])
    assert rc == 0
    assert (store_dir / "sketch=1h").is_dir()
    assert (store_dir / "sketch=1d").is_dir()

    key = ["kind", "series_key", "metric", "bucket_ts"]
    got = _canon(TieredStore(store_dir).read_sketch_tier(spark, "1d")
                 .select(*key, "cnt", "n_distinct").toPandas())
    exact = _canon(
        turn_metrics(ingest(spark.read.parquet(src)))
        .groupBy("kind", "series_key", "metric",
                 F.date_trunc("day", F.col("ts")).alias("bucket_ts"))
        .agg(F.count_distinct("conv_id").alias("n_distinct"),
             F.count("*").alias("cnt")).toPandas())
    assert len(got) == len(exact) > 0
    assert (got["n_distinct"].to_numpy() == exact["n_distinct"].to_numpy()).all()
    assert (got["cnt"].to_numpy() == exact["cnt"].to_numpy()).all()


def test_cli_gaps_equals_api_and_raw(spark, store, t_small_df, tmp_path):
    """'gaps' CLI == query_gaps library call == missing_buckets over a
    from-raw rollup of the same slice (the store serves the report
    without decoding chunks)."""
    from pyspark.sql import functions as F

    from mimir_spark.gapfill import missing_buckets
    from mimir_spark.ingest import ingest, turn_metrics
    from mimir_spark.read_path import query_gaps
    from mimir_spark.rollup import rollup_aggs

    out = str(tmp_path / "gaps_out")
    rc = query_job.main([
        "--store", str(store.root), "gaps", "--tier", "1m",
        "--kind", "conv", "--metric", "turn_rate", "--out", out])
    assert rc == 0
    got = _canon(spark.read.parquet(out).toPandas())
    want = _canon(query_gaps(spark, store, metric="turn_rate",
                             tier="1m", kind="conv").toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    raw = rollup_aggs(turn_metrics(ingest(t_small_df)), "1m") \
        .filter(F.col("kind") == "conv") \
        .filter(F.col("metric") == "turn_rate")
    from_raw = _canon(missing_buckets(raw, "1m").toPandas())
    pd.testing.assert_frame_equal(got, from_raw, check_dtype=False)
    assert len(got) > 0  # minute-tier conv series do have holes


def test_cli_rollup_status(spark, tmp_path, capsys):
    """--status reports committed/pending partitions from the lineage
    table (exactly the set a resume would skip) without running the
    job; an unknown job id reports cleanly."""
    import rollup_job

    from mimir_spark.fixtures import transcripts_df

    src = str(tmp_path / "st_in")
    transcripts_df(spark, 80).write.parquet(src)
    store_dir = str(tmp_path / "st_store")
    rc = rollup_job.main(["--input", src, "--output", store_dir,
                          "--job-id", "stj", "--partitions", "3"])
    assert rc == 0
    capsys.readouterr()

    rc = rollup_job.main(["--status", "--output", store_dir,
                          "--job-id", "stj", "--partitions", "3"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "3/3 partitions committed" in out
    assert "pending none" in out

    rc = rollup_job.main(["--status", "--output", store_dir,
                          "--job-id", "ghost", "--partitions", "3"])
    assert rc == 0
    assert "no committed partitions" in capsys.readouterr().out


def test_cli_fast_fail_validation(tmp_path):
    """Malformed verb specs must abort at argparse time (exit 2),
    BEFORE any Spark job runs — a bad spec that executed only after
    hours of preceding work would waste the whole run."""
    import compact_job
    import rollup_job
    import stream_job

    # --distinct-sketch: unknown tier / missing colon / empty column /
    # tier mapped to two columns / tier listed twice
    for bad in ["5m:conv_id", "1hconv_id", "1h:",
                "1h:conv_id,1h:tool", "1h:conv_id,1h:conv_id"]:
        with pytest.raises(SystemExit) as e:
            rollup_job.main(["--generate", "5", "--output",
                             str(tmp_path / "x"),
                             "--distinct-sketch", bad])
        assert e.value.code == 2

    # compact_job: malformed pair specs for every verb, --retain
    # without --as-of, and a --since that is no date — all before
    # tiered_store/get_spark
    for argv in [["--store", "s", "--cascade", "1m-1h"],
                 ["--store", "s", "--cascade-sketch", "1m:1h:1d"],
                 ["--store", "s", "--expire", "1m"],
                 ["--store", "s", "--retain", "1m:30d"],
                 ["--store", "s", "--cascade", "1m:1h",
                  "--since", "2026-1-5"],
                 ["--store", "s", "--cascade", "1m:1h",
                  "--since", "2026-02-30"]]:
        with pytest.raises(SystemExit) as e:
            compact_job.main(argv)
        assert e.value.code == 2

    # stream_job: the stateful writer needs at least one state shard
    for n in ["0", "-3"]:
        with pytest.raises(SystemExit) as e:
            stream_job.main(["--source", "src", "--store", "s",
                             "--state-shards", n])
        assert e.value.code == 2


def test_cli_status_lower_bound_without_partitions(spark, tmp_path,
                                                   capsys):
    """--status with --partitions omitted reports a lineage-derived
    LOWER BOUND (labeled as such) instead of inventing pendings from
    a default."""
    import rollup_job

    from mimir_spark.fixtures import transcripts_df

    src = str(tmp_path / "lb_in")
    transcripts_df(spark, 60).write.parquet(src)
    store_dir = str(tmp_path / "lb_store")
    assert rollup_job.main(["--input", src, "--output", store_dir,
                            "--job-id", "lbj", "--partitions", "3"]) == 0
    capsys.readouterr()
    assert rollup_job.main(["--status", "--output", store_dir,
                            "--job-id", "lbj"]) == 0
    out = capsys.readouterr().out
    assert "3/>=3 (lower bound from lineage" in out
    assert "pending none" in out


def test_stream_job_cli_once_and_rerun(spark, t_small_df, tmp_path,
                                       capsys):
    """stream_job --once drains the source into the store (chunk tier
    + sketch tier), the result serves query_range/distinct, and a
    SECOND --once run over the unchanged source is a no-op (checkpoint
    + ledgers): no duplicate rows. A third run after a file lands
    resumes from the checkpoint (offset and commit logs, restored
    state): its chunk tier equals one --once over all the files."""
    import shutil

    import stream_job
    from pyspark.sql import functions as F

    from mimir_spark.read_path import query_range, query_range_distinct

    rows = t_small_df.limit(4000)
    # the appended file starts on an hour boundary after every
    # earlier row: no 1h bucket spans both runs, no row of it is late
    cut = F.col("ts") >= F.lit("2026-01-11 00:00:00").cast("timestamp")
    src = str(tmp_path / "sj_src")
    rows.filter(~cut).repartition(3).write.parquet(src)
    store_dir = str(tmp_path / "sj_store")

    def argv(source, store):
        return ["--source", source, "--store", store, "--tier", "1h",
                "--once", "--distinct-sketch", "conv_id",
                "--partitions", "3"]

    assert stream_job.main(argv(src, store_dir)) == 0
    s = TieredStore(store_dir)
    n1 = s.read_tier(spark, "1h").count()
    k1 = s.read_sketch_tier(spark, "1h").count()
    assert n1 > 0 and k1 > 0
    assert query_range(spark, s, "turn_rate", agg="sum", step="2h",
                       kind="conv", tiers=("1h",)).count() > 0
    assert query_range_distinct(spark, s, "turn_rate", step="2h",
                                kind="conv", tier="1h").count() > 0

    # re-run: the checkpoint has consumed the source; nothing merges
    assert stream_job.main(argv(src, store_dir)) == 0
    assert s.read_tier(spark, "1h").count() == n1
    assert s.read_sketch_tier(spark, "1h").count() == k1

    # resume with new data on the same checkpoint == one uninterrupted
    # run over every file, chunk bytes included
    rows.filter(cut).coalesce(1).write.mode("append").parquet(src)
    assert stream_job.main(argv(src, store_dir)) == 0
    once_dir = str(tmp_path / "sj_once")
    shutil.copytree(src, str(tmp_path / "sj_all"))
    assert stream_job.main(argv(str(tmp_path / "sj_all"), once_dir)) == 0
    resumed = _canon(s.read_tier(spark, "1h").toPandas())
    assert len(resumed) > n1
    pd.testing.assert_frame_equal(
        resumed, _canon(TieredStore(once_dir).read_tier(spark, "1h")
                        .toPandas()))
    n1 = len(resumed)
    k1 = s.read_sketch_tier(spark, "1h").count()

    # --status: per-date ingest metrics in the _streaming sidecar must
    # reconcile with the store content (and the no-op rerun must not
    # have inflated them)
    import json

    capsys.readouterr()
    assert stream_job.main(["--store", store_dir, "--status"]) == 0
    status = json.loads(capsys.readouterr().out.strip())
    chunk_tot = status["tiers"]["tier=1h"]["totals"]
    assert chunk_tot["rows"] == n1
    tier_df = s.read_tier(spark, "1h")
    assert chunk_tot["points"] == tier_df.agg(F.sum("cnt")).first()[0]
    assert chunk_tot["chunk_bytes"] == \
        tier_df.agg(F.sum(F.octet_length("chunk"))).first()[0]
    sk_tot = status["tiers"]["sketch=1h"]["totals"]
    assert sk_tot["rows"] >= k1  # pre-merge contributions >= merged rows
    assert sk_tot["batches"] >= 1

    # retention ages the streaming ledgers with their dates; the
    # metrics history (append-only ingest log) survives
    import pathlib

    led_dir = pathlib.Path(store_dir) / "_streaming" / "tier=1h"
    led_dates = sorted(p.name.split("=", 1)[1].removesuffix(".json")
                       for p in led_dir.glob("bucket_date=*.json"))
    assert len(led_dates) >= 2
    cutoff = led_dates[-1]  # drop all but the newest date
    s.expire("1h", cutoff)
    left = sorted(p.name.split("=", 1)[1].removesuffix(".json")
                  for p in led_dir.glob("bucket_date=*.json"))
    assert left == [led_dates[-1]]
    assert (led_dir / "metrics.jsonl").exists()
    assert s.read_tier(spark, "1h").count() > 0


def test_stream_checkpoint_keeps_uri_and_picks_manager(spark):
    """A --checkpoint URI keeps its scheme://authority in every query's
    checkpoint location. Local checkpoints (file: URIs and plain paths)
    keep the session's FileSystem manager; any other scheme gets
    Spark's default back."""
    import stream_job

    from mimir_spark.session import (CHECKPOINT_MANAGER_KEY,
                                     FS_CHECKPOINT_MANAGER)

    for root in ("hdfs://nn:8020/ck", "hdfs://nn:8020/ck/"):
        assert stream_job.checkpoint_location(root, "chunks") == \
            "hdfs://nn:8020/ck/chunks"
    assert stream_job.checkpoint_location("/data/ck", "sketch") == \
        "/data/ck/sketch"

    def manager():
        return spark._jsparkSession.sessionState().newHadoopConf() \
            .get(CHECKPOINT_MANAGER_KEY)

    try:
        for root in ("/data/ck", "ck", "file:/data/ck", "file:///data/ck"):
            stream_job.pick_checkpoint_manager(spark, root)
            assert manager() == FS_CHECKPOINT_MANAGER, root
        stream_job.pick_checkpoint_manager(spark, "hdfs://nn:8020/ck")
        assert manager() is None
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER)

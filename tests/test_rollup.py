"""Rollup engine vs naive pandas oracle: golden equality per tier,
bit-for-bit after chunk decode (the north rule's hard requirement),
plus the differential invariants of FIXTURES.md §4.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mimir_spark import codec, oracle_ref
from mimir_spark.ingest import dedup_turns, ingest, turn_metrics
from mimir_spark.rollup import cascade, rollup_aggs, rollup_points

KEY = ["tier", "kind", "series_key", "metric", "bucket_ts"]
AGGS = ["cnt", "sum_v", "min_v", "max_v", "last_v"]


@pytest.fixture(scope="module")
def spark_rollup(spark, t_small_df):
    points = turn_metrics(ingest(t_small_df))
    return rollup_points(points).toPandas()


@pytest.fixture(scope="module")
def oracle_rollup(t_small):
    return oracle_ref.rollup_transcripts(t_small)


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(KEY, kind="mergesort").reset_index(drop=True)
    out["bucket_ts"] = out["bucket_ts"].astype("datetime64[us]")
    out["cnt"] = out["cnt"].astype(np.int64)
    return out


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_tier_matches_oracle(spark_rollup, oracle_rollup, tier):
    got = _norm(spark_rollup[spark_rollup.tier == tier])
    want = _norm(oracle_rollup[oracle_rollup.tier == tier])
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(got[KEY + AGGS], want[KEY + AGGS],
                                  check_dtype=False)
    # bit-for-bit after Gorilla decode
    for (g, w) in zip(got["chunk"], want["chunk"]):
        gt, gv = codec.decode_chunk(bytes(g))
        wt, wv = codec.decode_chunk(bytes(w))
        assert np.array_equal(gt, wt)
        assert np.array_equal(gv.view(np.uint64), wv.view(np.uint64))


def test_chunk_points_match_aggs(spark_rollup):
    """Chunk contents must agree with the aggregate columns."""
    sample = spark_rollup.sample(n=min(300, len(spark_rollup)), random_state=1)
    for r in sample.itertuples(index=False):
        ts, v = codec.decode_chunk(bytes(r.chunk))
        assert len(ts) == r.cnt
        assert np.isclose(v.sum(), r.sum_v)
        assert v.min() == r.min_v and v.max() == r.max_v
        assert v[-1] == r.last_v


def test_cascade_equals_direct(spark, t_small_df):
    """rollup_1h(from 1m) == rollup_1h(from raw) — aggregates AND
    decoded chunks (the batch/compact invariant)."""
    points = turn_metrics(ingest(t_small_df))
    all_tiers = rollup_points(points).cache()
    direct_1h = all_tiers.filter("tier = '1h'").toPandas()
    casc_1h = cascade(all_tiers.filter("tier = '1m'"), "1h").toPandas()
    got, want = _norm(casc_1h), _norm(direct_1h)
    pd.testing.assert_frame_equal(got[KEY + AGGS], want[KEY + AGGS],
                                  check_dtype=False)
    for (g, w) in zip(got["chunk"], want["chunk"]):
        assert bytes(g) == bytes(w)  # byte-identical, not just decode-equal
    all_tiers.unpersist()


def test_cascade_aggs_bit_equal_direct(spark):
    """The cascade re-aggregates the decoded points in the one-pass
    writer's order, so every aggregate — not only the chunk — is
    bit-equal to the direct rollup, on non-integer values, NaN, inf
    and signed zeros."""
    rng = np.random.default_rng(11)
    n = 4000
    v = rng.normal(0, 1e3, n) / 7.0
    odd = rng.random(n)
    v[odd < 0.05] = np.nan
    v[(odd >= 0.05) & (odd < 0.1)] = -0.0
    v[(odd >= 0.1) & (odd < 0.15)] = 0.0
    v[(odd >= 0.15) & (odd < 0.17)] = np.inf
    base = pd.Timestamp("2024-03-01").value // 1000
    pts = pd.DataFrame({
        "kind": "conv", "series_key": rng.choice(["a", "b", "c"], n),
        "metric": rng.choice(["m1", "m2"], n),
        # 1 s resolution over ~30 h: many points per minute and hour,
        # some sharing a ts (ordered by conv_id, turn_idx)
        "ts": pd.to_datetime(base + rng.integers(0, 30 * 3600, n)
                             * 1_000_000, unit="us"),
        "conv_id": rng.choice(["x", "y"], n),
        "turn_idx": rng.integers(0, 50, n), "v": v})
    points = spark.createDataFrame(
        pts, "kind string, series_key string, metric string, ts timestamp, "
             "conv_id string, turn_idx long, v double")
    all_tiers = rollup_points(points, tiers=("1m", "1h")).cache()
    got = _norm(cascade(all_tiers.filter("tier = '1m'"), "1h").toPandas())
    want = _norm(all_tiers.filter("tier = '1h'").toPandas())
    all_tiers.unpersist()
    assert got[KEY + ["cnt"]].equals(want[KEY + ["cnt"]])
    for c in ["sum_v", "min_v", "max_v", "last_v"]:
        assert np.array_equal(got[c].to_numpy(np.float64).view(np.uint64),
                              want[c].to_numpy(np.float64).view(np.uint64)), c
    assert [bytes(c) for c in got["chunk"]] == \
        [bytes(c) for c in want["chunk"]]


def test_salted_equals_unsalted(spark, t_small_df):
    points = turn_metrics(ingest(t_small_df))
    a = rollup_aggs(points, "1h").toPandas()
    b = rollup_aggs(points, "1h", salt_buckets=16).toPandas()
    cols = ["kind", "series_key", "metric", "bucket_ts"]
    a = a.sort_values(cols, kind="mergesort").reset_index(drop=True)
    b = b.sort_values(cols, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_aggs_match_onepass(spark, t_small_df, spark_rollup):
    """Pure-JVM agg path == one-pass mapInPandas path."""
    points = turn_metrics(ingest(t_small_df))
    jvm = rollup_aggs(points, "1m").toPandas()
    jvm.insert(0, "tier", "1m")
    got = _norm(jvm)
    want = _norm(spark_rollup[spark_rollup.tier == "1m"])[KEY + AGGS]
    pd.testing.assert_frame_equal(got[KEY + AGGS], want, check_dtype=False)


def test_shuffle_invariance(spark, t_small, t_small_df):
    """Output invariant under input row shuffling + partition count."""
    from mimir_spark.fixtures import TRANSCRIPT_SCHEMA

    shuffled = t_small.sample(frac=1.0, random_state=9).reset_index(drop=True)
    df2 = spark.createDataFrame(shuffled, schema=TRANSCRIPT_SCHEMA).repartition(3)
    a = rollup_points(turn_metrics(ingest(t_small_df))).toPandas()
    b = rollup_points(turn_metrics(ingest(df2)), num_partitions=5).toPandas()
    a, b = _norm(a), _norm(b)
    pd.testing.assert_frame_equal(a[KEY + AGGS], b[KEY + AGGS], check_dtype=False)
    for (x, y) in zip(a["chunk"], b["chunk"]):
        assert bytes(x) == bytes(y)


def test_per_turn_text_equality(spark, t_small, t_small_df):
    """Ingested turns joined back to source on (conv_id, turn_idx)
    yield identical text for every row (input_hint invariant)."""
    ingested = ingest(t_small_df).toPandas()
    src = oracle_ref.dedup_turns(t_small)
    merged = ingested.merge(src[["conv_id", "turn_idx", "text"]],
                            on=["conv_id", "turn_idx"], suffixes=("", "_src"))
    assert len(merged) == len(src) == len(ingested)
    assert (merged["text"] == merged["text_src"]).all()


def test_dedup_deterministic(spark, t_small_df):
    got = dedup_turns(t_small_df).groupBy("conv_id", "turn_idx").count().toPandas()
    assert (got["count"] == 1).all()


def test_rollup_transcripts_fast_path_equivalent(spark, t_small_df, spark_rollup):
    """The scale-tuned pipeline (narrow projection, int8 metric codes,
    conv series rolled up with no second shuffle) must produce the
    byte-identical result of the reference composition."""
    from mimir_spark.rollup import rollup_transcripts

    got = _norm(rollup_transcripts(t_small_df).toPandas())
    want = _norm(pd.DataFrame(spark_rollup))
    pd.testing.assert_frame_equal(got[KEY + AGGS], want[KEY + AGGS],
                                  check_dtype=False)
    assert all(bytes(x) == bytes(y) for x, y in zip(got["chunk"], want["chunk"]))


def test_max_points_subchunk_split(spark, t_small_df, spark_rollup):
    """Chunk split for giant groups: same aggregates, decode_all of the
    sub-chunk container equals the uncapped decode."""
    from mimir_spark.rollup import rollup_transcripts

    capped = _norm(rollup_transcripts(t_small_df, max_points=4).toPandas())
    want = _norm(pd.DataFrame(spark_rollup))
    pd.testing.assert_frame_equal(capped[KEY + AGGS], want[KEY + AGGS],
                                  check_dtype=False)
    split_seen = False
    for c, w, cnt in zip(capped["chunk"], want["chunk"], capped["cnt"]):
        ct, cv = codec.decode_all(bytes(c))
        wt, wv = codec.decode_chunk(bytes(w))
        assert np.array_equal(ct, wt)
        assert np.array_equal(cv.view(np.uint64), wv.view(np.uint64))
        if cnt > 4:
            split_seen = True
            assert codec.chunk_n_points(bytes(c)) <= 4
    assert split_seen


def test_rollup_turns_staged_equals_generic(spark, t_small_df, tmp_path):
    """The staged job path (one source scan -> narrow deduped turns on
    disk -> rollup_turns with shard-tagged kinds) must produce the
    byte-identical result of the old formulation
    rollup_points(turn_metrics(ingest(src)) with kind-prefix tag)."""
    from pyspark.sql import functions as F

    from mimir_spark.ingest import narrow_turns
    from mimir_spark.rollup import rollup_turns

    P = 3
    shard = F.pmod(F.xxhash64("conv_id"), F.lit(P))
    want = _norm(
        rollup_points(
            turn_metrics(ingest(t_small_df)).withColumn(
                "kind", F.concat(shard.cast("string"), F.lit("|"),
                                 F.col("kind")))
        ).toPandas())

    stage = str(tmp_path / "turns")
    dedup_turns(narrow_turns(t_small_df).repartition(F.col("conv_id"))) \
        .write.mode("overwrite").parquet(stage)
    staged = spark.read.parquet(stage)
    got = _norm(rollup_turns(staged, shard_partitions=P).toPandas())

    pd.testing.assert_frame_equal(got[KEY + AGGS], want[KEY + AGGS],
                                  check_dtype=False)
    assert all(bytes(x) == bytes(y) for x, y in zip(got["chunk"], want["chunk"]))


def test_rollup_turns_plan_reads_only_staging(spark, t_small_df, tmp_path):
    """Single-scan invariant of the staged job: BOTH union branches of
    rollup_turns scan the staging location; the original source path
    appears nowhere in the physical plan."""
    from pyspark.sql import functions as F

    from mimir_spark.ingest import narrow_turns
    from mimir_spark.rollup import rollup_turns

    src_path = str(tmp_path / "src_corpus")
    t_small_df.write.mode("overwrite").parquet(src_path)
    src = spark.read.parquet(src_path)
    stage = str(tmp_path / "turns")
    dedup_turns(narrow_turns(src).repartition(F.col("conv_id"))) \
        .write.mode("overwrite").parquet(stage)
    staged = spark.read.parquet(stage)
    plan = rollup_turns(staged, shard_partitions=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "src_corpus" not in plan
    assert plan.count("turns") >= 2  # conv + tool branches read staging


def test_distinct_sketch_rollup_and_cascade(spark, t_small_df):
    """HLL distinct-count tiers: estimates exact at fixture
    cardinalities, and the 1m->1h cascade (sketch union) equals the
    direct-from-raw 1h computation — the re-aggregability property
    exact distinct counts lack."""
    from pyspark.sql import functions as F

    from mimir_spark.rollup import (cascade_distinct_sketch,
                                    rollup_distinct_sketch)

    points = turn_metrics(ingest(t_small_df)) \
        .filter(F.col("kind") == "tool")
    fine = rollup_distinct_sketch(points, "1m")
    direct = rollup_distinct_sketch(points, "1h")
    derived = cascade_distinct_sketch(fine, "1h")

    key = ["kind", "series_key", "metric", "bucket_ts"]
    a = direct.select(*key, "cnt", "n_distinct").toPandas() \
        .sort_values(key).reset_index(drop=True)
    b = derived.select(*key, "cnt", "n_distinct").toPandas() \
        .sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)

    # estimates == exact distinct counts at these cardinalities
    exact = points.filter(F.col("kind") == "tool").groupBy(
        "kind", "series_key", "metric",
        F.date_trunc("hour", "ts").alias("bucket_ts")) \
        .agg(F.count_distinct("conv_id").alias("nd")).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert (a["n_distinct"].to_numpy() == exact["nd"].to_numpy()).all()


def test_distinct_sketch_over_arbitrary_step(spark, t_small_df):
    """Union onto a 2h step from the 1h sketch tier == direct 2h
    computation from raw points (register-exact), and estimates stay
    exact at fixture cardinalities."""
    from pyspark.sql import functions as F

    from mimir_spark.rollup import (distinct_sketch_over_step,
                                    rollup_distinct_sketch)

    points = turn_metrics(ingest(t_small_df)).filter(F.col("kind") == "tool")
    hourly = rollup_distinct_sketch(points, "1h")
    stepped = distinct_sketch_over_step(hourly, 7200)

    key = ["kind", "series_key", "metric", "bucket_ts"]
    got = stepped.select(*key, "cnt", "n_distinct").toPandas() \
        .sort_values(key).reset_index(drop=True)
    exact = points.groupBy(
        "kind", "series_key", "metric",
        F.window("ts", "7200 seconds").getField("start").alias("bucket_ts")) \
        .agg(F.count("*").alias("cnt"),
             F.count_distinct("conv_id").alias("nd")).toPandas() \
        .sort_values(key).reset_index(drop=True)
    assert len(got) == len(exact) > 0
    assert (got["cnt"].to_numpy() == exact["cnt"].to_numpy()).all()
    assert (got["n_distinct"].to_numpy() == exact["nd"].to_numpy()).all()

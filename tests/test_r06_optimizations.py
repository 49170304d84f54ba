"""Round-6 optimization equivalence tests.

Each optimization that changed an operator's internals gets a direct
old-vs-new equivalence assertion here:

- ``narrow_turns`` now computes ``n_tok`` in a vectorized Arrow pass
  (`ingest._token_counts_arrow`) instead of the JVM regex split; the
  two must agree byte-for-byte on every edge case of the quirky
  ``size(split(trim(text), ws))`` spec (space-only trim, kept
  leading/trailing empty fields).
- the flagship tool branch uses `rollup._tool_points_fast`, which must
  be row-identical to ``turn_metrics(...).filter(kind == 'tool')``.
"""

import pytest
from pyspark.sql import functions as F

from mimir_spark.ingest import (narrow_turns, token_count_col,
                                turn_metrics)
from mimir_spark.rollup import _tool_points_fast

EDGE_TEXTS = [
    "hello world",
    "  leading and trailing  ",
    "tab\tsep\ncr\rmix \t\r\n end",
    "",
    None,
    "   \t\n  ",          # space-trim leaves '\t\n' -> 2 fields
    "unicode café 你好  nbsp",
    "x",
    "a\n",                 # trailing newline -> kept empty field
    "\ta",                 # leading tab -> kept empty field
    "\t",
    " \t ",
    "a  b",
    "word " * 500 + "\tend",
    "\r\na\r\nb\r\n",
    " ",
    "\x0bvertical\x0c",    # \x0b/\x0c are NOT whitespace for this spec
]


@pytest.fixture(scope="module")
def edge_turns_df(spark):
    rows = [("c1", i, "user" if i % 3 else "tool",
             "bash" if i % 3 == 0 else None,
             f"2026-01-01 00:{i:02d}:00", t)
            for i, t in enumerate(EDGE_TEXTS)]
    return (
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, "
                  "tool string, ts string, text string")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def test_arrow_token_count_matches_jvm_regex(spark, edge_turns_df):
    got = {r["turn_idx"]: r["n_tok"]
           for r in narrow_turns(edge_turns_df).collect()}
    want = {r["turn_idx"]: r["n_tok"]
            for r in edge_turns_df.select(
                "turn_idx", token_count_col().alias("n_tok")).collect()}
    assert got == want


def test_arrow_token_count_all_space_batch(spark):
    """A batch whose every text byte is a space must count 0 tokens,
    not crash (review finding: empty non-space position array)."""
    import pyarrow as pa

    from mimir_spark.ingest import _token_counts_arrow

    out = _token_counts_arrow(pa.array([" ", "  ", "", None, "   "]))
    assert out.to_pylist() == [0, 0, 0, 0, 0]
    # and through the full narrow_turns path
    rows = [("c", i, "user", None, "2026-01-01 00:00:00", t)
            for i, t in enumerate([" ", "  ", "", None])]
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, "
              "ts string, text string")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    got = {r["turn_idx"]: r["n_tok"] for r in narrow_turns(df).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}


def test_narrow_turns_arrow_fn_finds_text_by_name():
    """The Arrow body must not depend on ``text`` being the last
    column: a batch with ``text`` first still passes every other
    column through in order and counts the right column."""
    import pyarrow as pa

    from mimir_spark.ingest import _narrow_turns_arrow_fn

    texts = ["hello world", None, " a\tb ", ""]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(texts), pa.array(["c1", "c1", "c2", "c2"]),
         pa.array([0, 1, 0, 1], type=pa.int32()),
         pa.array(["user", "tool", "user", "user"])],
        names=["text", "conv_id", "turn_idx", "role"])
    (out,) = list(_narrow_turns_arrow_fn(iter([batch])))
    assert out.schema.names == ["conv_id", "turn_idx", "role", "n_tok"]
    for name in ("conv_id", "turn_idx", "role"):
        assert out.column(name).equals(batch.column(name))
    assert out.column("n_tok").to_pylist() == [2, 0, 2, 0]


def test_arrow_token_count_matches_on_fixture(spark, t_small_df):
    new = narrow_turns(t_small_df).select("conv_id", "turn_idx", "n_tok")
    old = t_small_df.select("conv_id", "turn_idx",
                            token_count_col().alias("n_tok"))
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_aux_tier_write_is_sharded(spark, t_small_df, tmp_path):
    """Aux (sketch/hist) tier writes must be ABLE to fan out to
    multiple tasks per bucket_date leaf — the r5 write-path scale
    finding: the old repartition key (bucket_date alone) pinned every
    date to ONE reducer by key cardinality, which AQE can never
    split. The new (bucket_date, series-shard) key fans out; AQE
    coalescing still merges small leaves (scale-adaptive), so the
    fan-out is asserted with coalescing off, and the read-back must
    stay identical either way."""
    from mimir_spark.lineage import TieredStore

    sk = _sketch_1h(t_small_df)
    store = TieredStore(tmp_path / "store")
    files_per_leaf = _sketch_files_per_leaf(spark, store, sk)
    assert max(files_per_leaf) > 1, files_per_leaf
    back = store.read_sketch_tier(spark, "1h") \
        .select("kind", "series_key", "metric", "bucket_ts", "cnt",
                "n_distinct")
    ref = sk.select("kind", "series_key", "metric", "bucket_ts", "cnt",
                    "n_distinct")
    assert back.exceptAll(ref).count() == 0
    assert ref.exceptAll(back).count() == 0


def test_aux_shards_read_at_write_time(spark, t_small_df, tmp_path,
                                       monkeypatch):
    """SPARK_GRAFT_AUX_SHARDS set after the engine is imported still
    sets the files per aux-tier date leaf."""
    from mimir_spark.lineage import TieredStore

    sk = _sketch_1h(t_small_df)
    monkeypatch.setenv("SPARK_GRAFT_AUX_SHARDS", "1")
    one = _sketch_files_per_leaf(spark, TieredStore(tmp_path / "one"), sk)
    assert one and set(one) == {1}, one
    monkeypatch.delenv("SPARK_GRAFT_AUX_SHARDS")
    dflt = _sketch_files_per_leaf(spark, TieredStore(tmp_path / "d"), sk)
    assert max(dflt) > 1 and max(dflt) <= 8, dflt


def _sketch_1h(t_small_df):
    from mimir_spark.ingest import ingest, turn_metrics
    from mimir_spark.rollup import rollup_distinct_sketch

    return rollup_distinct_sketch(turn_metrics(ingest(t_small_df)), "1h")


def _sketch_files_per_leaf(spark, store, sk) -> list[int]:
    """Write ``sk`` as the 1h sketch tier with AQE coalescing off (it
    merges small leaves' shards) and count the files in each leaf."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        store.write_sketch_tier(sk, "1h")
    finally:
        spark.conf.set(key, prev)
    date_dirs = sorted(store.sketch_dir("1h").glob("bucket_date=*"))
    assert date_dirs, "no date leaves written"
    return [len(list(d.glob("*.parquet"))) for d in date_dirs]


def test_tool_points_fast_matches_turn_metrics(spark, t_small_df):
    turns = narrow_turns(t_small_df)
    fast = _tool_points_fast(turns)
    ref = turn_metrics(turns).filter(F.col("kind") == "tool")
    assert fast.columns == ref.columns
    assert fast.exceptAll(ref).count() == 0
    assert ref.exceptAll(fast).count() == 0

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
    """Aux (sketch/hist) tier files are sized by bytes: each small
    bucket_date leaf is one file at default settings, and a leaf past
    AQE's advisory partition size fans out to several write tasks
    (the r5 write-path scale finding: a leaf written by ONE reducer
    whatever its size). The read-back is identical either way."""
    from mimir_spark.lineage import TieredStore

    sk = _sketch_1h(t_small_df)
    ref = sk.select("kind", "series_key", "metric", "bucket_ts", "cnt",
                    "n_distinct")
    dflt = _sketch_files_per_leaf(spark, TieredStore(tmp_path / "d"), sk, {})
    assert set(dflt) == {1}, dflt
    split = _sketch_files_per_leaf(spark, TieredStore(tmp_path / "s"), sk, {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k"})
    assert max(split) > 1, split
    for name in ("d", "s"):
        back = TieredStore(tmp_path / name).read_sketch_tier(spark, "1h") \
            .select(*ref.columns)
        assert back.exceptAll(ref).count() == 0
        assert ref.exceptAll(back).count() == 0


def test_streamed_aux_date_dir_is_one_file(spark, t_small_df, tmp_path):
    """The streaming sketch sink rewrites a whole date dir per batch
    through the same byte-sized layout: a small date dir is one file,
    not one per fixed shard."""
    from mimir_spark.lineage import TieredStore
    from mimir_spark.streaming.rollup_stream import sketch_store_sink

    sk = _sketch_1h(t_small_df)
    batch = sk.select("kind", "series_key", "metric",
                      F.expr("cast(bucket_ts as timestamp_ntz)")
                      .alias("bucket_ts"), "cnt", "distinct_sketch")
    store = TieredStore(tmp_path / "store")
    sketch_store_sink(store, "1h", app_id="app")(batch, 0)
    date_dirs = sorted(store.sketch_dir("1h").glob("bucket_date=*"))
    assert date_dirs, "no date dirs written"
    assert [len(list(d.glob("*.parquet"))) for d in date_dirs] == \
        [1] * len(date_dirs)
    assert store.read_sketch_tier(spark, "1h").agg(F.sum("cnt")).first()[0] \
        == sk.agg(F.sum("cnt")).first()[0]


def _sketch_1h(t_small_df):
    from mimir_spark.ingest import ingest, turn_metrics
    from mimir_spark.rollup import rollup_distinct_sketch

    return rollup_distinct_sketch(turn_metrics(ingest(t_small_df)), "1h")


def _sketch_files_per_leaf(spark, store, sk, conf: dict) -> list[int]:
    """Write ``sk`` as the 1h sketch tier under the session settings
    ``conf`` and count the files in each leaf."""
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        store.write_sketch_tier(sk, "1h")
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
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

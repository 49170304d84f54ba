"""Ingest stage: dedup, stable ordering, per-turn metric extraction.

Reference parity:
- duplicate-position suppression (AtomicIndex.java:245-254,273-275) ->
  deterministic dedup on (conv_id, turn_idx);
- ordered per-sub-index queues / in-order invariant
  (MimirIndex.java:173-211) -> stable (conv_id, turn_idx) sort;
- sub-index per token feature (MimirIndex.java:433-446) -> one metric
  family per derived column, exploded to (series, point) rows;
- round-robin federation sharding (FederatedIndexService.groovy:89) ->
  salted hash partitioning with explicit hot-key split.

Everything here is Catalyst expressions — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Java-regex whitespace (kept ASCII-only so the pandas oracle and the
# DuckDB oracle agree byte-for-byte on tokenization)
WS_RE = "[ \\t\\n\\r]+"


def token_count_col(text_col="text"):
    """Whitespace token count; empty/null text -> 0."""
    t = F.trim(F.col(text_col))
    return F.when(
        F.col(text_col).isNull() | (F.length(t) == 0), F.lit(0)
    ).otherwise(F.size(F.split(t, WS_RE)))


def _token_counts_arrow(arr):
    """Vectorized token count over one Arrow string array — bit-exact
    replay of ``token_count_col``, i.e. of
    ``size(split(trim(text), '[ \\t\\n\\r]+'))`` with empty/null -> 0.

    The JVM semantics being replayed, exactly:

    - ``trim`` strips SPACES only (0x20), not tabs/newlines;
    - ``split`` uses Java ``Pattern.split(s, -1)``: trailing AND
      leading empty fields are kept, so the size equals (number of
      separator runs in the space-trimmed text) + 1;
    - whitespace = {space, \\t, \\n, \\r}. Byte-level run counting is
      exact for UTF-8: those four bytes never occur inside a
      multi-byte sequence.

    Measured (local[4], 3.56M turns): the Java-regex split on the scan
    cost ~14 s; this pass is a handful of memory-bandwidth numpy scans.
    """
    import numpy as np
    import pyarrow as pa

    n = len(arr)
    if n == 0:
        return pa.array([], type=pa.int32())
    if not (pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type)):
        arr = arr.cast(pa.string())
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=off_dtype)[
        arr.offset: arr.offset + n + 1].astype(np.int64)
    if bufs[2] is None or len(bufs[2]) == 0:
        tok = np.zeros(n, dtype=np.int64)
    else:
        data = np.frombuffer(bufs[2], dtype=np.uint8)
        ws = (data == 32) | (data == 9) | (data == 10) | (data == 13)
        # per-row bounds of the space-trimmed text: first/last
        # non-space byte. pos lists every non-space byte; searchsorted
        # maps each row's [a, b) onto it.
        pos = np.flatnonzero(data != 32)
        if len(pos) == 0:
            # a batch whose every byte is a space: every row trims to
            # empty -> 0 tokens (the pos-indexing below would IndexError
            # on the empty array)
            tok = np.zeros(n, dtype=np.int64)
            if arr.null_count:
                tok[arr.is_null().to_numpy(zero_copy_only=False)] = 0
            return pa.array(tok.astype(np.int32), type=pa.int32())
        a, b = off[:-1], off[1:]
        lo = np.searchsorted(pos, a, side="left")
        hi = np.searchsorted(pos, b, side="left")
        nonempty = hi > lo
        # separator-run starts, buffer-global: ws byte whose
        # predecessor is not ws (position 0 handled via the row-local
        # correction below). rpos lists them sparsely — searchsorted
        # over ~token-count entries beats a prefix sum over every byte
        # of the buffer (measured: 90 ms vs 150-300 ms per 34 MB).
        rs = ws.copy()
        rs[1:] &= ~ws[:-1]
        rs[0] = False
        rpos = np.flatnonzero(rs)
        tok = np.zeros(n, dtype=np.int64)
        first = pos[np.minimum(lo, len(pos) - 1)]
        last = pos[np.maximum(hi - 1, 0)]
        # separator runs in the trimmed row = global run starts in
        # (first, last] (their predecessors lie inside the row, so
        # global == row-local) + 1 if ``first`` itself is ws (a tab or
        # newline survives the space-only trim and always starts a
        # run row-locally, whatever precedes it in the buffer)
        runs = (np.searchsorted(rpos, last + 1, side="left")
                - np.searchsorted(rpos, first + 1, side="left")) + ws[first]
        tok[nonempty] = runs[nonempty] + 1
    if arr.null_count:
        tok[arr.is_null().to_numpy(zero_copy_only=False)] = 0
    return pa.array(tok.astype(np.int32), type=pa.int32())


def _narrow_turns_arrow_fn(iterator):
    """mapInArrow body for ``narrow_turns``: pass the other columns
    through untouched and in order, reduce ``text`` (found by name) to
    a trailing ``n_tok``."""
    import pyarrow as pa

    for batch in iterator:
        names = batch.schema.names
        t = names.index("text")
        keep = [i for i in range(batch.num_columns) if i != t]
        cols = [batch.column(i) for i in keep]
        cols.append(_token_counts_arrow(batch.column(t)))
        yield pa.RecordBatch.from_arrays(
            cols, names=[names[i] for i in keep] + ["n_tok"])


def dedup_turns(df: DataFrame) -> DataFrame:
    """Keep exactly one row per (conv_id, turn_idx), deterministically.

    Total tie-break order over all columns makes the survivor invariant
    under input shuffling (FIXTURES.md invariant 5). The window
    partitions by conv_id only (turn runs are resolved by the sort), so
    a plan already hash-partitioned by conv_id needs NO extra shuffle —
    one data movement serves dedup, ordering, and conv-series rollup.
    """
    # canonical survivor spec: min by (ts, role, tool, n_tok, md5(text)).
    # The narrow path has no text column; its residual ambiguity
    # (same ts/role/tool/n_tok, different text) is metric-invariant,
    # so rollups still match the full spec exactly.
    if "text" in df.columns:
        tb = [token_count_col().asc(), F.md5("text").asc_nulls_last()]
    else:
        tb = [F.col("n_tok").asc()]
    w = Window.partitionBy("conv_id").orderBy(
        F.col("turn_idx").asc(),
        F.col("ts").asc_nulls_last(),
        F.col("role").asc_nulls_last(),
        F.col("tool").asc_nulls_last(),
        *tb,
    )
    prev = F.lag("turn_idx", 1).over(w)
    return (
        df.withColumn("_dup", prev.isNotNull() & (prev == F.col("turn_idx")))
        .filter(~F.col("_dup"))
        .drop("_dup")
    )


def ingest(df: DataFrame) -> DataFrame:
    """Dedup + stable clustering by (conv_id, turn_idx).

    ONE shuffle: repartition(hash(conv_id)); the dedup window reuses
    that partitioning (its sort replaces sortWithinPartitions). Rows
    are only moved and ordered, never rewritten — the per-turn
    text-equality invariant.
    """
    return dedup_turns(df.repartition(F.col("conv_id")))


METRIC_COLS = ("kind", "series_key", "metric", "ts", "conv_id", "turn_idx", "v")


def narrow_turns(df: DataFrame) -> DataFrame:
    """Rollup-path projection: text is read once at the scan, reduced to
    n_tok, and never shuffled — the shuffle moves ~50-byte rows instead
    of whole documents. The canonical text table is ``ingest``'s job,
    not the rollup's (Mimir likewise stores the document collection
    once and indexes narrow postings, DocumentCollection.java:476 vs
    AtomicIndex postings).

    Dedup tie-break here is (ts, role, tool, n_tok) — sufficient for
    rollup determinism because every downstream metric is a function of
    exactly those columns; colliding rows that agree on all of them
    produce identical rollups whichever survives.

    The tokenizer runs as a vectorized Arrow pass
    (``_token_counts_arrow``), not the Java-regex ``split``: counting
    non-whitespace byte runs is numerically identical (asserted by
    tests) and removed ~half of the flagship rollup's scan stage
    (guide §4.2 — batch-level native code beats JVM regex row loops).
    The explicit select keeps column pruning at the scan: exactly the
    six needed columns are read."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    base = df.select("conv_id", "turn_idx", "role", "tool", "ts", "text")
    out_schema = StructType(
        [f for f in base.schema.fields if f.name != "text"]
        + [StructField("n_tok", IntegerType())])
    return base.mapInArrow(_narrow_turns_arrow_fn, out_schema)


def compose_helpers(*helpers):
    """DelegatingSemanticAnnotationHelper analogue
    (DelegatingSemanticAnnotationHelper.java:65-180): an annotation
    helper here is any Column-producing ``df -> df`` function that
    adds virtual feature columns; a delegating chain applies the
    delegate first and each decorator after, so every decorator sees
    (and can compute from) the delegate's features — exactly how the
    reference's Measurements helper wraps a standard helper while
    adding normalized value/unit features. Pure composition: the whole
    chain stays one Catalyst plan, no per-row Python."""
    def chained(df):
        for h in helpers:
            df = h(df)
        return df

    return chained


def metric_entry(kind, key, metric, v):
    """Build one series-extractor entry (kind, series_key, metric, v).

    The pluggable extension surface (SemanticAnnotationHelper
    analogue, SemanticAnnotationHelper.java:48-177): an extractor is
    any Column-level function of the turn row producing such a struct;
    pass extras to ``turn_metrics(extractors=[...])``. Column
    expressions keep custom extractors inside codegen — the
    'vectorized only, no per-row Python' contract of the input_hint.
    """
    return F.struct(
        kind.alias("kind"), key.alias("series_key"),
        metric.alias("metric"), v.cast("double").alias("v"),
    )


def turn_metrics(df: DataFrame, extractors: list | None = None) -> DataFrame:
    """Explode each turn into its (series, point) rows.

    Per turn:
      (conv, conv_id, turn_rate, 1.0)
      (conv, conv_id, token_volume, token_count)
      (conv, conv_id, role_mix_<role>, 1.0)
      (tool, <tool>, turn_rate, 1.0)      when tool is set
      (tool, <tool>, token_volume, n)     when tool is set

    The array+explode stays entirely in whole-stage codegen. Uses a
    precomputed ``n_tok`` column when present (narrow path) so the
    regex tokenizer runs exactly once per turn.
    """
    tok = (F.col("n_tok") if "n_tok" in df.columns else token_count_col()).cast("double")
    entry = metric_entry
    conv = F.col("conv_id")
    # closed role vocabulary + catch-all: unknown roles roll up under
    # role_mix_other (keeps the fast int8-coded path equivalent); null
    # roles emit no role_mix point (v null -> filtered)
    role_name = (
        F.when(F.col("role").isin("user", "assistant", "tool"),
               F.concat(F.lit("role_mix_"), F.col("role")))
        .otherwise(F.lit("role_mix_other"))
    )
    base = [
        entry(F.lit("conv"), conv, F.lit("turn_rate"), F.lit(1.0)),
        entry(F.lit("conv"), conv, F.lit("token_volume"), tok),
        entry(F.lit("conv"), conv, role_name,
              F.when(F.col("role").isNotNull(), F.lit(1.0))),
        entry(F.lit("tool"), F.col("tool"), F.lit("turn_rate"),
              F.when(F.col("tool").isNotNull(), F.lit(1.0))),
        entry(F.lit("tool"), F.col("tool"), F.lit("token_volume"),
              F.when(F.col("tool").isNotNull(), tok)),
    ]
    for ex in extractors or []:
        base.append(ex(df) if callable(ex) else ex)
    entries = F.array(*base)
    return (
        df.select(F.explode(entries).alias("e"), "ts", "conv_id", "turn_idx")
        .filter(F.col("e.v").isNotNull() & F.col("e.series_key").isNotNull())
        .select(
            F.col("e.kind").alias("kind"),
            F.col("e.series_key").alias("series_key"),
            F.col("e.metric").alias("metric"),
            "ts", "conv_id", "turn_idx",
            F.col("e.v").alias("v"),
        )
    )


def with_salt(df: DataFrame, keys: list[str], buckets: int = 16,
              salt_col: str = "_salt") -> DataFrame:
    """Explicit skew salt: uniform sub-key within a hot group.

    Used by two-stage aggregation (partial per (keys, salt), final per
    keys) so a hot conversation/tool can't pin a single reducer — the
    engine-level analogue of the reference's round-robin doc sharding.
    """
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(buckets))
    )

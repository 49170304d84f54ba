"""Tiered rollup engine: continuous aggregates + compressed chunks.

The production path computes ALL retention tiers (1m/1h/1d) in ONE
shuffle: points are hash-partitioned by (series, day) and sorted by
(series, ts) within partitions; a single Arrow pass then detects tier
boundaries positionally and encodes every tier's chunks with the
vectorized multi-chunk codec — zero per-point Python, zero decode work.
This is the Spark-first replacement for the reference's per-sub-index
single-writer pipeline (MimirIndex.java:139,448; one task per partition
is the single writer) and its batch-flush postings write
(AtomicIndex.java:940-1083).

The 1m->1h->1d *cascade* (re-aggregation from a finer tier, chunk
merge included) is the LSM compact analogue
(AtomicIndex.java:1280-1366) and runs on the same kernel: fine rows
are sorted by (series, bucket, chunk), their chunks decoded in batch
(codec.decode_many) and the points re-rolled at the coarse width
(``cascade_groups``), so rollup_1h(from raw) == cascade(rollup_1m)
bit for bit, aggregates included — it doubles as the differential
test of the one-pass path. The parquet store compacts with the same
step on the driver, one leaf at a time (TieredStore.compact_tier);
the Spark ``cascade`` is the Iceberg backend's compaction and the
tests' reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import codec

TIER_US = {"1m": 60_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}
TIER_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}

ROLLUP_SCHEMA = (
    "tier string, kind string, series_key string, metric string, "
    "bucket_ts timestamp, cnt long, sum_v double, min_v double, "
    "max_v double, last_v double, chunk binary"
)

_SERIES_COLS = ["kind", "series_key", "metric"]
#: public alias + the raw-points row schema — shared by read_path,
#: downsample, and functions.timeseries so the series vocabulary has
#: one owner
SERIES_COLS = tuple(_SERIES_COLS)
POINTS_SCHEMA = ("kind string, series_key string, metric string, "
                 "ts timestamp, v double")


# ---------------------------------------------------------------------------
# one-pass multi-tier rollup (the production path)
# ---------------------------------------------------------------------------

def _change_mask(arrays):
    """True where any of ``arrays`` differs from the previous row (row
    0 is always True): the series-start mask the kernel consumes."""
    change = np.ones(len(arrays[0]), dtype=bool)
    change[1:] = arrays[0][1:] != arrays[0][:-1]
    for a in arrays[1:]:
        change[1:] |= a[1:] != a[:-1]
    return change


def rollup_groups(ts_us, v, series_start, units, max_points=None):
    """The one group-aggregate-encode kernel every rollup writer runs.

    ``ts_us``/``v`` are sorted by (series, ts, tiebreak) and
    ``series_start`` marks each series' first row, so groups are found
    with integer/boolean compares only. Per tier width in ``units``
    (microseconds), yields ``(starts, aggs)``: the row index opening
    each (series, bucket) group and its bucket_ts / cnt / sum_v /
    min_v / max_v / last_v / chunk columns. Callers attach their own
    label columns by indexing them with ``starts``."""
    n = len(ts_us)
    for unit in units:
        bucket = ts_us - ts_us % unit
        change = series_start.copy()
        change[1:] |= bucket[1:] != bucket[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)
        yield starts, {
            "bucket_ts": bucket[starts].astype("datetime64[us]"),
            "cnt": (ends - starts).astype(np.int64),
            "sum_v": np.add.reduceat(v, starts),
            "min_v": np.minimum.reduceat(v, starts),
            "max_v": np.maximum.reduceat(v, starts),
            "last_v": v[ends - 1],
            "chunk": pd.Series(codec.encode_groups(ts_us, v, starts,
                                                   max_points),
                               dtype=object),
        }


def _whole_groups(batches, coarsest_us, series_cols):
    """Regroup sorted Arrow batches into dicts of column arrays that
    hold only whole (series, coarsest-bucket) groups (``ts`` becomes
    epoch micros). The open last group is carried as a list of slices
    and joined once when it closes, so every row is copied at most
    once however many batches a group spans."""
    tail, last = [], None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        cols["ts"] = cols["ts"].astype("datetime64[us]").astype(np.int64)
        keys = [cols[c] for c in series_cols]
        keys.append(cols["ts"] - cols["ts"] % coarsest_us)
        change = _change_mask(keys)
        change[0] = last is not None and any(
            k[0] != x for k, x in zip(keys, last))
        last = [k[-1] for k in keys]
        cuts = np.flatnonzero(change)
        if len(cuts):
            cut = int(cuts[-1])
            if cut:
                tail.append({c: a[:cut] for c, a in cols.items()})
            yield _join(tail)
            tail, cols = [], {c: a[cut:] for c, a in cols.items()}
        tail.append(cols)
    if tail:
        yield _join(tail)


def _join(parts):
    if len(parts) == 1:
        return parts[0]
    return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}


def _carry_fn(tiers, series_cols, block):
    """mapInPandas body: ``block(cols)`` over each run of whole groups
    (a block may return None: nothing to emit)."""
    coarsest = TIER_US[tiers[-1]]

    def process(iterator):
        for cols in _whole_groups(iterator, coarsest, series_cols):
            out = block(cols)
            if out is not None:
                yield out

    return process


def _make_rollup_fn(tiers, max_points=None):
    """Generic points rollup over (kind, series_key, metric, ts, v)
    rows sorted by (series, ts, conv_id, turn_idx) within partitions."""
    units = [TIER_US[t] for t in tiers]

    def block(cols):
        kind, key, metric = (cols[c] for c in _SERIES_COLS)
        v = np.asarray(cols["v"], dtype=np.float64)
        groups = rollup_groups(cols["ts"], v,
                               _change_mask([kind, key, metric]), units,
                               max_points)
        return pd.concat([
            pd.DataFrame({"tier": tier, "kind": kind[s],
                          "series_key": key[s], "metric": metric[s],
                          **aggs})
            for tier, (s, aggs) in zip(tiers, groups)], ignore_index=True)

    return _carry_fn(tiers, _SERIES_COLS, block)


def _check_tiers(tiers):
    bad = [t for t in tiers if t not in TIER_US]
    if bad:
        raise ValueError(f"unknown tier(s) {bad}; valid tiers: {sorted(TIER_US)}")


def rollup_points(points: DataFrame, tiers: tuple[str, ...] = ("1m", "1h", "1d"),
                  num_partitions: int | None = None,
                  max_points: int | None = None) -> DataFrame:
    """points (kind, series_key, metric, ts, conv_id, turn_idx, v) ->
    one row per (tier, series, bucket) with aggregates + chunk.

    Partitioning by (series, coarsest-tier bucket) guarantees every
    output group lives wholly in one partition while spreading a hot
    series across time — the explicit skew-split of SURVEY.md §4.3.
    """
    _check_tiers(tiers)
    tiers = tuple(sorted(tiers, key=lambda t: TIER_US[t]))
    part_cols = [F.col(c) for c in _SERIES_COLS] + [
        F.date_trunc(TIER_TRUNC[tiers[-1]], F.col("ts"))
    ]
    shuffled = (
        points.repartition(*(([num_partitions] if num_partitions else []) + part_cols))
        .sortWithinPartitions(*_SERIES_COLS, "ts", "conv_id", "turn_idx")
    )
    return shuffled.mapInPandas(_make_rollup_fn(tiers, max_points), ROLLUP_SCHEMA)


# closed metric vocabulary of the conv fan-out: a turn's role_code is
# the index of its role_mix metric, so the Arrow pass selects each
# metric's turns with an integer compare
METRICS = ["turn_rate", "token_volume",
           "role_mix_user", "role_mix_assistant", "role_mix_tool",
           "role_mix_other"]


def _conv_turns_narrow(turns: DataFrame, shard_expr=None) -> DataFrame:
    """Narrow per-turn frame for the in-Arrow conv fan-out: one row
    per TURN (not per point), role precoded to the metric id of its
    role_mix series (-1 = null role, emits no role_mix point). The
    Arrow pass explodes each turn into its metric points itself, so
    the Spark-side sort and the JVM->Python transfer carry 3x fewer
    rows than the exploded layout (guide §2.3 'shuffle fewer bytes'
    applied to the serialization boundary)."""
    role_code = (
        F.when(F.col("role") == "user", F.lit(2))
        .when(F.col("role") == "assistant", F.lit(3))
        .when(F.col("role") == "tool", F.lit(4))
        .when(F.col("role").isNotNull(), F.lit(5))
        .otherwise(F.lit(-1))
    )
    extra = [shard_expr.alias("shard")] if shard_expr is not None else []
    return turns.select(
        F.col("conv_id").alias("series_key"), "ts", "turn_idx",
        role_code.cast("int").alias("role_code"),
        F.col("n_tok").cast("double").alias("tok"), *extra)


def _make_rollup_turns_fn(tiers, kind: str, max_points=None,
                          with_shard: bool = False):
    """mapInPandas body over (series_key, ts, role_code, tok[, shard])
    TURN rows sorted by (series_key, ts, turn_idx) within partitions:
    explodes each turn into its conv-kind metric points in numpy and
    rolls every tier up in the same pass.

    For a fixed metric, selecting the turn subset by mask preserves
    the (ts, turn_idx) order, so every (series, metric, bucket) group
    sees its points in the same order a JVM-side explode + sort by
    (series, metric, ts, turn_idx) would give it.
    """
    units = [TIER_US[t] for t in tiers]

    def block(cols):
        key, ts_us, role = cols["series_key"], cols["ts"], cols["role_code"]
        shard = cols["shard"] if with_shard else None
        frames = []
        # turn_rate / token_volume cover every turn; role_mix_<m>
        # covers the turns with role_code == m
        for mid, metric in enumerate(METRICS):
            if mid == 0:
                m, v = slice(None), np.ones(len(ts_us), dtype=np.float64)
            elif mid == 1:
                m, v = slice(None), np.asarray(cols["tok"], dtype=np.float64)
            else:
                m = role == mid
                if not m.any():
                    continue
                v = np.ones(int(m.sum()), dtype=np.float64)
            k = key[m]
            groups = rollup_groups(ts_us[m], v, _change_mask([k]), units,
                                   max_points)
            for tier, (s, aggs) in zip(tiers, groups):
                # shard-tagged kind ("<p>|conv") for the resumable
                # job's per-shard commit groups; shard is a function
                # of conv_id == key, so it can't split a series group
                kind_col = (kind if shard is None else np.char.add(
                    np.char.add(shard[m][s].astype("U20"), "|"), kind))
                frames.append(pd.DataFrame({
                    "tier": tier, "kind": kind_col, "series_key": k[s],
                    "metric": metric, **aggs}))
        return pd.concat(frames, ignore_index=True)

    return _carry_fn(tiers, ["series_key"], block)


def _tool_points_fast(turns: DataFrame) -> DataFrame:
    """Tool-kind metric explode over narrow deduped turns — row-for-row
    identical to ``turn_metrics(turns).filter(kind == 'tool')`` (plan-
    free proof: turn_metrics emits tool rows only for non-null tool,
    with v = 1.0 / n_tok, both non-null on the narrow path), but emits
    a 2-entry array over the pre-filtered tool rows instead of a
    5-entry array over every turn that is then 80% discarded."""
    tok = F.col("n_tok").cast("double")
    entries = F.array(
        F.struct(F.lit("turn_rate").alias("metric"), F.lit(1.0).alias("v")),
        F.struct(F.lit("token_volume").alias("metric"), tok.alias("v")),
    )
    return (
        turns.filter(F.col("tool").isNotNull())
        .select(F.col("tool").alias("series_key"), "ts", "conv_id",
                "turn_idx", F.explode(entries).alias("e"))
        .select(F.lit("tool").alias("kind"), "series_key",
                F.col("e.metric").alias("metric"), "ts", "conv_id",
                "turn_idx", F.col("e.v").alias("v"))
    )


def rollup_transcripts(transcripts: DataFrame,
                       tiers: tuple[str, ...] = ("1m", "1h", "1d"),
                       num_partitions: int | None = None,
                       max_points: int | None = None) -> DataFrame:
    """End-to-end transcript rollup tuned for scale (the bench path).

    Plan shape (ONE wide shuffle total for ~88% of the data):
      scan (text reduced to n_tok by the vectorized Arrow tokenizer
            at the scan — never shuffled)
      -> repartition(hash(conv_id))              [shuffle 1: ~50 B rows]
      -> window dedup (reuses that partitioning)
      -> conv-kind series: already co-located by conv_id -> ONE narrow
         row per TURN (series_key, ts, turn_idx, role_code, tok)
         sorted within partitions; the Arrow pass explodes each turn
         into its metric points in numpy (r6: 3x fewer rows sorted
         and serialized than the JVM-exploded layout)   [NO shuffle]
      -> tool-kind series (~12% of points): generic rollup_points over
         the 2-entry tool explode [small shuffle]; the shared
         shuffle-1 subtree is deduplicated by Catalyst's ReuseExchange.

    Equivalent to rollup_points(turn_metrics(ingest(df))) — asserted by
    tests — but moves ~5x fewer bytes end to end.
    """
    from .ingest import dedup_turns, narrow_turns

    _check_tiers(tiers)
    tiers = tuple(sorted(tiers, key=lambda t: TIER_US[t]))
    narrow = narrow_turns(transcripts)
    narrow = (narrow.repartition(num_partitions, F.col("conv_id"))
              if num_partitions else narrow.repartition(F.col("conv_id")))
    turns = dedup_turns(narrow)
    conv = (
        _conv_turns_narrow(turns)
        .sortWithinPartitions("series_key", "ts", "turn_idx")
        # turn_idx is a sort tiebreak only — project it away so the
        # opaque Arrow boundary doesn't serialize it (guide §4.1)
        .drop("turn_idx")
        .mapInPandas(_make_rollup_turns_fn(tiers, kind="conv",
                                           max_points=max_points),
                     ROLLUP_SCHEMA)
    )
    tool = rollup_points(_tool_points_fast(turns), tiers=tiers,
                         max_points=max_points)
    return conv.unionByName(tool)


def rollup_turns(turns: DataFrame,
                 tiers: tuple[str, ...] = ("1m", "1h", "1d"),
                 shard_partitions: int | None = None,
                 num_partitions: int | None = None,
                 max_points: int | None = None) -> DataFrame:
    """Two-branch rollup over an ALREADY-DEDUPED narrow turns table
    (conv_id, turn_idx, role, tool, ts, n_tok) — the staged-input
    variant of ``rollup_transcripts``.

    The resumable job scans the (100 TB) source exactly once, stages
    this narrow deduped frame (~100x smaller: no text), and feeds BOTH
    the conv and tool branches from the staged table — so the union's
    two subtrees re-read the small staging area instead of re-scanning
    the source when AQE declines to reuse the shared Exchange
    (PLANS.md 'flagship double-scan' finding).

    ``shard_partitions``: when set, kind becomes
    "<pmod(xxhash64(conv_id), P)>|conv" / "...|tool" — the per-shard
    commit groups of run_rollup_job, computed identically on both
    branches so a conversation's output always lands in its shard.
    """
    _check_tiers(tiers)
    tiers = tuple(sorted(tiers, key=lambda t: TIER_US[t]))
    shard_expr = (F.pmod(F.xxhash64("conv_id"), F.lit(shard_partitions))
                  if shard_partitions else None)
    t = (turns.repartition(num_partitions, F.col("conv_id"))
         if num_partitions else turns.repartition(F.col("conv_id")))
    conv = (
        _conv_turns_narrow(t, shard_expr=shard_expr)
        .sortWithinPartitions("series_key", "ts", "turn_idx")
        # turn_idx is a sort tiebreak only — project it away so the
        # opaque Arrow boundary doesn't serialize it (guide §4.1)
        .drop("turn_idx")
        .mapInPandas(
            _make_rollup_turns_fn(tiers, kind="conv", max_points=max_points,
                                  with_shard=shard_expr is not None),
            ROLLUP_SCHEMA)
    )
    tool_points = _tool_points_fast(t)
    if shard_expr is not None:
        tool_points = tool_points.withColumn(
            "kind", F.concat(shard_expr.cast("string"), F.lit("|"),
                             F.col("kind")))
    tool = rollup_points(tool_points, tiers=tiers, max_points=max_points)
    return conv.unionByName(tool)


# ---------------------------------------------------------------------------
# aggregate-only rollup (pure JVM, salted two-stage) — for queries that
# don't need chunks; also the oracle-checkable surface
# ---------------------------------------------------------------------------

def rollup_aggs(points: DataFrame, tier: str,
                salt_buckets: int | None = None) -> DataFrame:
    """Continuous aggregates at one tier via built-in hash aggregation.

    With ``salt_buckets`` set, runs the explicit two-stage skew-safe
    plan: partial agg per (series, bucket, salt), final combine per
    (series, bucket). ``last_v`` stays deterministic by carrying the
    (ts, conv_id, turn_idx) order key through both stages.
    """
    bucket = F.date_trunc(TIER_TRUNC[tier], F.col("ts")).alias("bucket_ts")
    ord_key = F.struct(F.col("ts"), F.col("conv_id"), F.col("turn_idx"))
    keys = [*_SERIES_COLS]
    if salt_buckets:
        partial = (
            points.withColumn("_salt", F.pmod(F.xxhash64("conv_id", "turn_idx"),
                                              F.lit(salt_buckets)))
            .groupBy(*keys, bucket, F.col("_salt"))
            .agg(
                F.count("*").alias("cnt"),
                F.sum("v").alias("sum_v"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
                F.max_by("v", ord_key).alias("last_v"),
                F.max(ord_key).alias("_ord"),
            )
        )
        return (
            partial.groupBy(*keys, "bucket_ts")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.sum("sum_v").alias("sum_v"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
                F.max_by("last_v", F.col("_ord")).alias("last_v"),
            )
        )
    return (
        points.groupBy(*keys, bucket)
        .agg(
            F.count("*").alias("cnt"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.max_by("v", ord_key).alias("last_v"),
        )
    )


# ---------------------------------------------------------------------------
# tier cascade (compact analogue + differential check of the one-pass path)
# ---------------------------------------------------------------------------

def cascade_groups(cols, to_tier, series_cols, max_points=None):
    """The cascade's one step over a run of whole coarse groups:
    ``cols`` maps ``series_cols`` and ``chunk`` to arrays sorted by
    (series, fine bucket_ts, chunk). The chunks are decoded in row
    order and the points rolled up again by the kernel at the coarse
    width. Returns the coarse rows (``tier``, ``series_cols``, the
    aggregates, ``bucket_ts`` as epoch micros), or None when no chunk
    holds a point (header-only groups emit no row). The Spark
    ``cascade`` and ``TieredStore.compact_tier`` both run it."""
    ts_us, v, counts = codec.decode_many(cols["chunk"])
    if not len(ts_us):
        return None
    row = np.repeat(np.arange(len(counts)), counts)
    series = np.cumsum(_change_mask([cols[c] for c in series_cols]))
    (starts, aggs), = rollup_groups(ts_us, v, _change_mask([series[row]]),
                                    [TIER_US[to_tier]], max_points)
    aggs["bucket_ts"] = aggs["bucket_ts"].astype(np.int64)
    first = row[starts]
    return pd.DataFrame({"tier": to_tier,
                         **{c: cols[c][first] for c in series_cols},
                         **aggs})


def cascade(rollup_df: DataFrame, to_tier: str,
            max_points: int | None = None) -> DataFrame:
    """Re-aggregate a finer tier into ``to_tier`` (e.g. 1m -> 1h) in
    one sorted pass on the rollup kernel. Fine rows are
    hash-partitioned by output leaf (store shard ``p`` when the frame
    carries it, plus the coarse bucket's date) and sorted by leaf,
    series, bucket_ts and chunk; each batch of whole coarse groups is
    batch-decoded (codec.decode_many) and re-rolled by
    ``rollup_groups`` with one encode call. The points reach the
    kernel in the one-pass writer's order, so chunks are
    byte-identical and aggregates bit-equal to a rollup from raw; the
    ``chunk`` tie-break orders two rows of one fine bucket (a batch
    file and a streamed file of one leaf) by their bytes. Buckets are
    epoch micros, as in the kernel, under any session timezone.

    ``max_points`` bounds re-encoded chunks exactly like the one-pass
    writer (sub-chunk containers). A store frame's ``p`` is kept as a
    leading series column, so each (p, bucket_date) output leaf is
    whole in one partition.

    The parquet TieredStore does not run this job: its compact_tier
    feeds each fine leaf to the same ``cascade_groups`` on the driver.
    This Spark form is the Iceberg backend's compaction and the
    reference the tests hold compact_tier to.
    """
    shard = ["p"] if "p" in rollup_df.columns else []
    series = shard + _SERIES_COLS
    fine = rollup_df.select(*series, F.unix_micros("bucket_ts").alias("ts"),
                            "chunk")
    bucket = F.col("ts") - F.pmod(F.col("ts"), F.lit(TIER_US[to_tier]))
    leaf = [*shard, F.to_date(F.timestamp_micros(bucket))]
    schema = ROLLUP_SCHEMA.replace("bucket_ts timestamp", "bucket_ts long") \
        + (", p int" if shard else "")
    groups = _carry_fn((to_tier,), series, lambda cols: cascade_groups(
        cols, to_tier, series, max_points))
    return (
        fine.repartition(*leaf)
        .sortWithinPartitions(*leaf, *_SERIES_COLS, "ts", "chunk")
        .mapInPandas(groups, schema)
        .withColumn("bucket_ts", F.timestamp_micros("bucket_ts"))
    )


# ---------------------------------------------------------------------------
# mergeable distinct-count sketches per tier (continuous-aggregate HLL)
# ---------------------------------------------------------------------------

def rollup_distinct_sketch(points: DataFrame, tier: str,
                           distinct_col: str = "conv_id",
                           lg_k: int = 12) -> DataFrame:
    """Per-(series, bucket) DISTINCT counts as MERGEABLE DataSketches
    HLL sketches — the continuous-aggregate feature exact counts can't
    give: count_distinct does NOT re-aggregate (distinct users per
    hour can't be summed into distinct users per day), but HLL
    sketches union losslessly, so a coarser tier derives from a finer
    one exactly like the additive aggregates in ``cascade``. Stored as
    a binary column next to the chunk; ~2^lg_k bytes per group,
    estimate error ~1.04/sqrt(2^lg_k) (~1.6% at lg_k=12).

    JVM-side end to end: hll_sketch_agg is a built-in partial+final
    hash aggregate — no Python in the path.
    """
    bucket = F.date_trunc(TIER_TRUNC[tier], F.col("ts")).alias("bucket_ts")
    return (
        points.groupBy(*_SERIES_COLS, bucket)
        .agg(F.hll_sketch_agg(distinct_col, F.lit(lg_k)).alias("distinct_sketch"),
             F.count("*").alias("cnt"))
        .withColumn("tier", F.lit(tier))
        .withColumn("n_distinct",
                    F.hll_sketch_estimate("distinct_sketch").cast("long"))
        .select("tier", *_SERIES_COLS, "bucket_ts", "cnt", "n_distinct",
                "distinct_sketch")
    )


def cascade_distinct_sketch(sketch_df: DataFrame, to_tier: str) -> DataFrame:
    """Re-aggregate a finer sketch tier into ``to_tier`` by HLL union —
    estimates match a direct computation from raw because sketch union
    is exact over the sketch state (same registers either way)."""
    bucket = F.date_trunc(TIER_TRUNC[to_tier],
                          F.col("bucket_ts")).alias("bucket_ts")
    return _union_sketches(sketch_df, bucket, F.lit(to_tier))


def distinct_sketch_over_step(sketch_df: DataFrame,
                              step_seconds: int) -> DataFrame:
    """Distinct counts over ARBITRARY step buckets from a stored
    sketch tier — the query_range analogue for the non-additive
    aggregate: a 2h dashboard step unions the 1h tier's sketches
    (epoch-aligned ``window()`` buckets, same origin as the tiers'
    date_trunc) instead of re-reading raw data. Exact over the sketch
    state, so the estimate equals what rolling up raw points at the
    step granularity would give. The step must be a multiple of the
    sketch tier's bucket width (the caller picks the tier —
    read_path.select_tier implements the coarsest-divisor rule)."""
    # epoch arithmetic, not window(): window's origin is 1970-01-01 in
    # the SESSION timezone, which shifts buckets under e.g. +05:30
    us = F.unix_micros(F.col("bucket_ts"))
    step_us = step_seconds * 1_000_000
    bucket = F.timestamp_micros(us - (us % F.lit(step_us))).alias("bucket_ts")
    return _union_sketches(sketch_df, bucket, F.lit(f"{step_seconds}s"))


def _union_sketches(sketch_df: DataFrame, bucket, tier_lit) -> DataFrame:
    return (
        sketch_df.groupBy(*_SERIES_COLS, bucket)
        .agg(F.hll_union_agg("distinct_sketch").alias("distinct_sketch"),
             F.sum("cnt").alias("cnt"))
        .withColumn("tier", tier_lit)
        .withColumn("n_distinct",
                    F.hll_sketch_estimate("distinct_sketch").cast("long"))
        .select("tier", *_SERIES_COLS, "bucket_ts", "cnt", "n_distinct",
                "distinct_sketch")
    )

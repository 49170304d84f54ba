"""Reference answers computed on the driver with pandas/numpy.

Everything here is derived from the generated corpus alone, never from
the engine's plans: the turn/metric rules are restated from the
engine's documented semantics (``ingest.turn_metrics``), tier
aggregates are plain group-bys, and chunks are encoded with the codec
the batch writer uses (bytes depend only on the ordered points), so
"equal" below means bit-for-bit.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TIER_US = {"1m": 60_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}
SERIES = ["kind", "series_key", "metric"]
AGG_COLS = ["cnt", "sum_v", "min_v", "max_v", "last_v"]


def _ts_us(col: pa.ChunkedArray) -> np.ndarray:
    return col.cast(pa.timestamp("us", tz="UTC")).cast(pa.int64()).to_numpy()


def turns(table: pa.Table) -> pd.DataFrame:
    """Deduplicated turns with their token counts. The generator only
    makes exact duplicates, so any survivor of a (conv_id, turn_idx)
    pair is the canonical one."""
    df = pd.DataFrame({
        "conv_id": table.column("conv_id").to_numpy(zero_copy_only=False),
        "turn_idx": table.column("turn_idx").to_numpy(),
        "role": table.column("role").to_numpy(zero_copy_only=False),
        "tool": table.column("tool").to_numpy(zero_copy_only=False),
        "text": table.column("text").to_numpy(zero_copy_only=False),
        "ts": _ts_us(table.column("ts")),
    }).drop_duplicates(["conv_id", "turn_idx"], ignore_index=True)
    # size(split(trim(text), '[ \t\n\r]+')), empty -> 0; texts repeat,
    # so count each distinct text once
    codes, texts = pd.factorize(df["text"], use_na_sentinel=False)
    n_tok = pd.Series(texts, dtype=object).str.strip(" ").str.split().str.len()
    df["n_tok"] = n_tok.fillna(0).to_numpy()[codes]
    return df.drop(columns="text")


def points(t: pd.DataFrame) -> pd.DataFrame:
    """The per-turn metric explode of ``ingest.turn_metrics``."""
    tok = t["n_tok"].astype(np.float64)
    one = np.ones(len(t))
    base = {"ts": t["ts"], "conv_id": t["conv_id"], "turn_idx": t["turn_idx"]}
    parts = [
        pd.DataFrame({**base, "kind": "conv", "series_key": t["conv_id"],
                      "metric": "turn_rate", "v": one}),
        pd.DataFrame({**base, "kind": "conv", "series_key": t["conv_id"],
                      "metric": "token_volume", "v": tok}),
        pd.DataFrame({**base, "kind": "conv", "series_key": t["conv_id"],
                      "metric": "role_mix_" + t["role"], "v": one}),
    ]
    tools = t["tool"].notna()
    tt = t[tools]
    for metric, v in (("turn_rate", np.ones(len(tt))),
                      ("token_volume", tok[tools].to_numpy())):
        parts.append(pd.DataFrame({
            "ts": tt["ts"], "conv_id": tt["conv_id"],
            "turn_idx": tt["turn_idx"], "kind": "tool",
            "series_key": tt["tool"], "metric": metric, "v": v}))
    return pd.concat(parts, ignore_index=True)


def aggregate(pts: pd.DataFrame, unit_us: int, chunks: bool = True
              ) -> pd.DataFrame:
    """One row per (series, bucket): cnt/sum/min/max/last and, with
    ``chunks``, the Gorilla chunk of the bucket's points in
    (ts, conv_id, turn_idx) order."""
    from mimir_spark import codec

    p = pts.assign(bucket=pts["ts"] - pts["ts"] % unit_us).sort_values(
        [*SERIES, "bucket", "ts", "conv_id", "turn_idx"], ignore_index=True)
    n = len(p)
    if n == 0:
        return pd.DataFrame(columns=[*SERIES, "bucket", *AGG_COLS, "chunk"])
    s = (p["kind"] + "\x1f" + p["series_key"] + "\x1f" + p["metric"]).to_numpy()
    b = p["bucket"].to_numpy()
    starts = np.flatnonzero(np.r_[True, (s[1:] != s[:-1]) | (b[1:] != b[:-1])])
    ends = np.r_[starts[1:], n]
    v = p["v"].to_numpy(dtype=np.float64)
    out = p.loc[starts, [*SERIES, "bucket"]].reset_index(drop=True)
    out["cnt"] = ends - starts
    out["sum_v"] = np.add.reduceat(v, starts)
    out["min_v"] = np.minimum.reduceat(v, starts)
    out["max_v"] = np.maximum.reduceat(v, starts)
    out["last_v"] = v[ends - 1]
    if chunks:
        out["chunk"] = codec.encode_many(p["ts"].to_numpy(), v, starts)
    return out


def read_tier(tier_dir: Path) -> pd.DataFrame:
    """A tier's rows straight from its parquet files (no Spark)."""
    cols = [*SERIES, "bucket_ts", *AGG_COLS, "chunk"]
    files = sorted(tier_dir.glob("p=*/bucket_date=*/*.parquet"))
    if not files:
        return pd.DataFrame(columns=[*SERIES, "bucket", *AGG_COLS, "chunk"])
    tabs = [pq.read_table(f, columns=cols) for f in files]
    tab = pa.concat_tables([t.cast(tabs[0].schema) for t in tabs])
    df = tab.drop_columns(["bucket_ts"]).to_pandas()
    df["bucket"] = _ts_us(tab.column("bucket_ts"))
    df["chunk"] = df["chunk"].map(bytes)
    return df


def diff_rows(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
              cols: list[str]) -> int:
    """Number of keys whose ``cols`` differ or that only one side has."""
    m = got[keys + cols].merge(want[keys + cols], on=keys, how="outer",
                               suffixes=("_g", "_w"), indicator=True)
    bad = m["_merge"] != "both"
    for c in cols:
        g, w = m[c + "_g"], m[c + "_w"]
        bad |= ~((g == w) | (g.isna() & w.isna()))
    return int(bad.sum())


def rows_digest(rows) -> int:
    """Order-free digest of a collected answer (repeat checks)."""
    return hash(tuple(sorted(repr(tuple(r)) for r in rows)))


def merge_partials(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Fold per-shard partial rows of a series bucket into one: summed
    cnt/sum, min/max, and the sorted decoded (ts, v) points."""
    from mimir_spark import codec

    def pts(chunks):
        out = []
        for c in chunks:
            ts, v = codec.decode_all(c)
            out += zip(ts.tolist(), v.tolist())
        return tuple(sorted(out))

    return df.groupby(keys, as_index=False).agg(
        cnt=("cnt", "sum"), sum_v=("sum_v", "sum"), min_v=("min_v", "min"),
        max_v=("max_v", "max"), points=("chunk", pts))

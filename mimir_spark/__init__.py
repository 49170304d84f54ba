"""mimir_spark — a PySpark-native time-series rollup + downsample +
retention engine over conversation/agent transcript tables.

Re-expresses the capabilities of GATE Mimir (reference:
/root/reference, a Java/MG4J semantic-search engine) Spark-first:

- ordered token streams          -> ordered turn streams (conv_id, turn_idx)
- posting lists (delta-encoded)  -> per-series chunks (delta-of-delta ts
                                    + Gorilla XOR values), see codec.py
- RAM batch -> tail -> compact   -> micro-batch -> tier snapshot -> compaction
- terms queries (count surface)  -> continuous aggregates at 1m/1h/1d tiers
- positional query algebra       -> interval/sequence operators over turns
- deleted-docs overlay           -> retention tier expiry

Everything is DataFrame/Catalyst-first; Python appears only in
vectorized Arrow/pandas UDFs (codec, chunk build).
"""

__version__ = "0.1.0"

from .session import cache_zip_directories as _cache_zip_directories

_cache_zip_directories()

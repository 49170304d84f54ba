"""spark-submit entry point for tier compaction + retention expiry.

The maintenance companion of jobs/rollup_job.py — the reference runs
the same split: continuous ingest threads plus a compaction request
that folds tails into the head (MimirIndex.requestCompactIndex;
AtomicIndex.java:1280-1366) and a deleted-docs overlay for retention
(MimirIndex.java:944-998).

Usage:
    spark-submit --py-files /tmp/mimir_spark.zip jobs/compact_job.py \
        --store <store root> --cascade 1m:1h,1h:1d \
        --expire 1m:2026-01-03 --max-points 65536

--cascade from:to derives the coarser tier from the finer one
  partition-by-partition (byte-identical to direct computation from
  raw — the cascade invariant).
--expire tier:cutoff drops whole date partitions older than the
  cutoff (pure metadata, no rewrite).
--upgrade tier rewrites old-format chunks to the current codec
  version (IndexUpgrader analogue).
"""

from __future__ import annotations

import argparse
import pathlib
import sys
from datetime import date

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True, help="tier store root")
    ap.add_argument("--cascade", default="",
                    help="comma list of from:to tier pairs, e.g. 1m:1h,1h:1d")
    ap.add_argument("--cascade-hist", default="",
                    help="same for quantile-histogram tiers "
                         "(bin addition, exact)")
    ap.add_argument("--cascade-sketch", default="",
                    help="comma list of from:to SKETCH tier pairs (HLL "
                         "union), e.g. 1m:1h,1h:1d")
    ap.add_argument("--expire", default="",
                    help="comma list of tier:cutoff-date, e.g. 1m:2026-01-03")
    ap.add_argument("--retain", default="",
                    help="retention POLICY: comma list of tier:keep, e.g. "
                         "1m:30d,1h:26w — keeps the N most recent days, "
                         "as-of inclusive (needs --as-of)")
    ap.add_argument("--as-of", default="",
                    help="logical date for --retain cutoffs (YYYY-MM-DD; "
                         "explicit so retention is replayable)")
    ap.add_argument("--upgrade", default="",
                    help="comma list of tiers to rewrite at the current codec version")
    ap.add_argument("--since", default=None,
                    help="incremental cascades: recompute only dates "
                         ">= YYYY-MM-DD (exact — tier buckets nest "
                         "within a date; older target dates untouched)."
                         " Applies to --cascade and --cascade-sketch")
    ap.add_argument("--max-points", type=int, default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    # parse + validate EVERY verb before any Spark work: a malformed
    # spec or unsupported backend must fail in milliseconds, not after
    # hours of compaction that happen to precede it in execution order
    def _pairs(flag: str, value: str) -> list[tuple[str, str]]:
        out = []
        for spec in filter(None, value.split(",")):
            if spec.count(":") != 1 or not all(spec.split(":")):
                ap.error(f"{flag} entries must be colon pairs, "
                         f"got {spec!r}")
            out.append(tuple(spec.split(":")))
        return out

    cascades = _pairs("--cascade", args.cascade)
    sketch_cascades = _pairs("--cascade-sketch", args.cascade_sketch)
    hist_cascades = _pairs("--cascade-hist", args.cascade_hist)
    expires = _pairs("--expire", args.expire)
    retain_pairs = _pairs("--retain", args.retain)
    if retain_pairs and not args.as_of:
        ap.error("--retain needs --as-of (the logical run date)")
    if args.since is not None:
        try:
            args.since = date.fromisoformat(args.since).isoformat()
        except ValueError:
            ap.error(f"--since must be a date YYYY-MM-DD, "
                     f"got {args.since!r}")
    upgrades = [t for t in args.upgrade.split(",") if t]

    from mimir_spark.lineage import tiered_store
    from mimir_spark.session import get_spark

    spark = get_spark("compact-job", cpus=args.cpus)
    store = tiered_store(args.store, spark)

    if sketch_cascades and not hasattr(store, "compact_sketch_tier"):
        ap.error(f"--cascade-sketch: the {type(store).__name__} backend "
                 f"does not support sketch tiers (parquet TieredStore "
                 f"only for now)")
    if hist_cascades and not hasattr(store, "compact_hist_tier"):
        ap.error(f"--cascade-hist: the {type(store).__name__} backend "
                 f"does not support histogram tiers (parquet TieredStore "
                 f"only for now)")
    for frm, to in cascades:
        n = store.compact_tier(spark, frm, to, max_points=args.max_points,
                               since=args.since)
        print(f"cascade {frm}->{to}: {n} partitions")
    for frm, to in sketch_cascades:
        n = store.compact_sketch_tier(spark, frm, to, since=args.since)
        print(f"cascade-sketch {frm}->{to}: {n} rows")
    for frm, to in hist_cascades:
        n = store.compact_hist_tier(spark, frm, to, since=args.since)
        print(f"cascade-hist {frm}->{to}: {n} rows")
    for tier, cutoff in expires:
        dropped = store.expire(tier, cutoff)
        print(f"expire {tier} < {cutoff}: {len(dropped)} date partitions dropped")
    if retain_pairs:
        from mimir_spark.lineage import apply_retention

        policy = dict(retain_pairs)
        for tier, dropped in apply_retention(store, policy,
                                             args.as_of).items():
            print(f"retain {tier} ({policy[tier]}): "
                  f"{len(dropped)} date partitions dropped")
    for tier in upgrades:
        n = store.upgrade_tier(spark, tier, max_points=args.max_points)
        print(f"upgrade {tier}: {n} partitions rewritten")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""spark-submit entry point: tail a changelog and MERGE it into a miniberg
table (the production surface the north rule names:
``spark-submit --py-files engine.zip apply_job.py``).

Usage:
    spark-submit [--master local[N]] --py-files engine.zip \
        apply_job.py --changelog DIR --table DIR \
        [--num-buckets 64] [--upto N] [--dedup agg|argmax|window|salted_window] \
        [--bootstrap PARQUET] [--split-buckets-factor K] [--compact-after] \
        [--expire-keep-last K] [--gc]

Creates the table on first run (schema inferred from the first pending batch's
payload, or bootstrapped from an initial parquet snapshot); resumes from the
committed watermark on every later run. Prints one JSON line of summary
metrics (events, applied, throughput) to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--changelog", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--upto", type=int, default=None)
    p.add_argument("--dedup", default="agg",
                   choices=["agg", "argmax", "window", "salted_window"])
    p.add_argument("--bootstrap", default=None, help="initial snapshot parquet")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--max-invalid-ratio", type=float, default=None,
                   help="abort a batch whose invalid-event ratio exceeds this")
    p.add_argument("--mor", default="auto", choices=["auto", "on", "off"],
                   help="merge-on-read deletes: 'auto' writes per-bucket "
                        "delta files for dribble batches (changed fraction "
                        "below --mor-threshold) instead of rewriting the "
                        "bucket; 'on' forces deltas, 'off' always COW")
    p.add_argument("--mor-threshold", type=float, default=0.05,
                   help="max changed-row fraction for a bucket to take the "
                        "delta path under --mor auto")
    p.add_argument("--bloom-ndv", default=None,
                   type=lambda v: v if v == "auto" else int(v),
                   help="write a parquet bloom filter on the key column "
                        "sized for this many distinct keys per file, or "
                        "'auto' to size it from the manifest's per-bucket "
                        "row counts (lake-scale point-lookup skipping; off "
                        "by default)")
    p.add_argument("--split-buckets-factor", type=int, default=None,
                   help="re-bucket the table N -> factor*N after applying "
                        "(shuffle-free map-only rewrite; the growth path)")
    p.add_argument("--compact-after", action="store_true",
                   help="run bucket compaction after applying")
    p.add_argument("--expire-keep-last", type=int, default=None,
                   help="expire snapshots, keeping the last K")
    p.add_argument("--gc", action="store_true", help="collect orphan files")
    p.add_argument("--gc-grace-seconds", type=float, default=0.0,
                   help="skip unreferenced files younger than this during "
                        "--gc/--expire-keep-last; this job is the table's "
                        "single writer, so 0 (reclaim everything, incl. this "
                        "run's crash leftovers) is the right default here — "
                        "set >0 only if other writers may be in flight")
    args = p.parse_args(argv)

    from pyspark.sql import types as T

    from recidiviz_data_spark.cdc.apply import (
        apply_batches,
        bootstrap_table,
        create_empty_table,
    )
    from recidiviz_data_spark.session import get_spark
    from recidiviz_data_spark.sources.changelog import (
        list_batches,
        payload_columns,
        read_batch,
    )
    from recidiviz_data_spark.tables.miniberg import Miniberg

    spark = get_spark(args.master, shuffle_partitions=args.shuffle_partitions,
                      app_name="cdc-apply")

    if Miniberg.exists(args.table):
        table = Miniberg(args.table)
    elif args.bootstrap:
        table = bootstrap_table(
            spark, args.table, spark.read.parquet(args.bootstrap),
            num_buckets=args.num_buckets,
        )
    else:
        batches = list_batches(args.changelog)
        if not batches:
            print(json.dumps({"error": "empty changelog"}))
            return 1
        first = read_batch(spark, args.changelog, batches[0])
        payload = T.StructType(
            [f for f in first.schema.fields if f.name in set(payload_columns(first))]
        )
        table = create_empty_table(args.table, payload, num_buckets=args.num_buckets)

    t0 = time.monotonic()
    lineage = apply_batches(
        spark, table, args.changelog, upto=args.upto, dedup_strategy=args.dedup,
        max_invalid_ratio=args.max_invalid_ratio,
        mor={"auto": "auto", "on": True, "off": False}[args.mor],
        mor_max_changed_fraction=args.mor_threshold,
        bloom_ndv=args.bloom_ndv,
    )
    wall = time.monotonic() - t0

    maintenance: dict = {}
    if args.split_buckets_factor:
        from recidiviz_data_spark.tables.maintenance import split_buckets

        maintenance["split_version"] = split_buckets(
            spark, table, factor=args.split_buckets_factor
        )
        maintenance["num_buckets"] = table.manifest()["num_buckets"]
    if args.compact_after:
        from recidiviz_data_spark.tables.maintenance import compact

        maintenance["compacted_version"] = compact(spark, table)
    if args.expire_keep_last is not None:
        from recidiviz_data_spark.tables.maintenance import expire_snapshots

        maintenance["expired"] = len(expire_snapshots(
            table, keep_last=args.expire_keep_last,
            grace_seconds=args.gc_grace_seconds,
        ))
    if args.gc:
        maintenance["gc_orphans"] = len(
            table.gc_orphans(grace_seconds=args.gc_grace_seconds)
        )
    events = sum(r["events_in"] for r in lineage)
    summary = {
        "batches_applied": len({r["batch_id"] for r in lineage}),
        "events_in": events,
        "applied": sum(r["applied"] for r in lineage),
        "deleted": sum(r["deleted"] for r in lineage),
        "skipped_stale": sum(r["skipped_stale"] for r in lineage),
        "invalid": sum(r["invalid"] for r in lineage),
        "wall_sec": round(wall, 3),
        "events_per_sec": round(events / wall, 1) if wall > 0 and events else 0.0,
        "table_version": table.current_version(),
        "watermark": table.manifest()["last_applied_batch"],
    }
    if maintenance:
        summary["maintenance"] = maintenance
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Table maintenance: compaction, snapshot expiry, tombstone purge.

A long-running CDC table accumulates (a) small files per bucket (each commit
adds ~1/bucket on the cheap write path), (b) old snapshots (every commit is an
immutable manifest), (c) tombstone rows (deletes are retained for
stale-replay safety). These ride-along costs are bounded here:

- ``compact``       rewrite chosen buckets to one file each (a normal commit —
                    readers never block; concurrent writers CAS-conflict and
                    retry, same as Iceberg's RewriteDataFiles).
- ``expire_snapshots`` drop manifests older than the last K, then GC data
                    files referenced only by them (time travel shrinks to K).
- ``purge_tombstones`` drop tombstone rows whose _seq is below a caller-chosen
                    horizon (events below the horizon can no longer arrive —
                    the reader's watermark contract), folded into a compact.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from recidiviz_data_spark.tables.miniberg import Miniberg


def compact(
    spark: SparkSession,
    table: Miniberg,
    *,
    buckets: list[int] | None = None,
    min_files: int = 2,
    tombstone_horizon: int | None = None,
    sort: bool = True,
    bloom_ndv: int | str | None = None,
    max_records_per_file: int | None = None,
) -> int | None:
    """Rewrite buckets holding >= min_files files into one file each.
    Optionally drops tombstones with _seq <= tombstone_horizon. Returns the
    new version, or None if nothing needed compaction.

    ``sort`` orders rows by the table key within each bucket file (Iceberg's
    sorted-rewrite): parquet row-group min/max stats then let key point
    lookups skip row groups inside a bucket — the hot apply path stays
    unsorted (write latency first; compaction restores order).

    ``max_records_per_file`` caps file size (a lake-scale bucket compacted
    to ONE multi-GB file defeats scan parallelism). Combined with ``sort``,
    the sequential split gives each file a DISJOINT key range, so the
    manifest's key_min/key_max stats prune point lookups to a single file
    per bucket — the skipping story key-range stats cannot deliver on
    unsorted hash-distributed writes."""
    m = table.manifest()
    per_bucket = {
        b: s["n_files"] for b, s in table.bucket_summaries(m).items()
    }
    todo = sorted(
        b for b, n in per_bucket.items()
        if (buckets is None or b in set(buckets)) and (n >= min_files or tombstone_horizon is not None)
    )
    if not todo:
        return None
    df = table.read(spark, buckets=todo, include_internal=True)
    if tombstone_horizon is not None and "_deleted" in df.columns:
        df = df.filter(
            ~(F.coalesce(F.col("_deleted"), F.lit(False)) & (F.col("_seq") <= tombstone_horizon))
        )
    out = df.withColumn(
        "_bucket", Miniberg.bucket_expr(m["key_col"], m["num_buckets"])
    ).repartition(len(todo), "_bucket")
    if sort:
        out = out.sortWithinPartitions("_bucket", m["key_col"])
    if bloom_ndv == "auto":
        # rows-per-output-file from the manifest summaries (compaction writes
        # one file per bucket unless max_records_per_file splits it) — the
        # ndv estimate the caller would otherwise have to hand-compute
        rows_max = max(
            (s.get("rows", 0) for b, s in table.bucket_summaries(m).items()
             if b in set(todo)),
            default=0,
        )
        if max_records_per_file:
            rows_max = min(rows_max, max_records_per_file)
        bloom_ndv = max(1024, rows_max)
    # compaction is where files get big enough for a key bloom to pay
    added = table.write_staged(
        out, m["schema_id"], bloom_ndv=bloom_ndv,
        max_records_per_file=max_records_per_file,
    )
    return table.commit(
        added_files=added,
        replaced_buckets=set(todo),
        expected_parent=m["version"],
        # props_fn: stamped with the version the commit ACTUALLY lands at —
        # a disjoint-bucket rebase would make a precomputed m.version+1 stale
        props_fn=lambda v: {"last_compaction_version": v},
    )


def expire_snapshots(
    table: Miniberg, *, keep_last: int = 5, grace_seconds: float = 3600.0,
    older_than_seconds: float | None = None,
) -> list[str]:
    """Delete manifests older than the last ``keep_last`` versions, then GC
    data files referenced by NO surviving snapshot. The current version and
    every tag-pinned version are always kept; time travel is limited to the
    survivors.

    ``older_than_seconds`` adds Iceberg's age retention: a version expires
    only if it is BOTH outside the last ``keep_last`` AND its manifest's
    ``committed_at`` is older than the cutoff (pre-stamp manifests count as
    infinitely old) — "keep 7 days of history but never fewer than K
    snapshots" composes the two knobs.

    ``grace_seconds``: unreferenced data files younger than this are kept —
    a concurrent writer stages files into data/ BEFORE its manifest CAS, so
    deleting fresh unreferenced files could strand a commit that is about to
    succeed. Pass 0 only when no writer can be in flight.

    Runs from the MAIN handle only (same rule as ``gc_orphans``): a branch
    handle's chain does not pin main's or sibling branches' files in the
    shared data/ and fm/ dirs, so expiring from it would delete live data.
    Branch manifest chains are bounded by the branch lifecycle itself —
    publish or drop — not by snapshot expiry."""
    import time as _time

    if table.branch is not None:
        raise ValueError(
            "expire_snapshots must run from the main handle: a branch's "
            "chain does not pin main's or sibling branches' files in the "
            "shared data/ and meta/fm/ dirs"
        )

    versions = table.versions()  # only EXISTING manifests (prior expiry may
    # have left gaps). keep_last=0 must mean "current only" — a bare
    # versions[-0:] slice would return EVERYTHING and expire nothing
    survivors = versions[-keep_last:] if keep_last > 0 else versions[-1:]
    if older_than_seconds is not None:
        from recidiviz_data_spark.tables import miniberg as _mb

        # same clock source as the committed_at stamps (late-bound so tests
        # that fake the commit clock see consistent ages)
        cutoff = _mb._now() - older_than_seconds
        survivors = set(survivors) | {
            v for v in versions
            if table.manifest(v).get("committed_at", float("-inf")) > cutoff
        }
    # tag-pinned snapshots survive regardless of age (Iceberg tag semantics):
    # a tag is the retention contract for audits/repro — expiry may never
    # break `read(version=table.ref(name))`
    survivors = set(survivors) | (set(table.tags().values()) & set(versions))
    from recidiviz_data_spark.tables.miniberg import (
        collect_references,
        gc_unreferenced,
    )

    branch_pins: set[int] = set()
    branch_refs: list[tuple[set, set]] = []
    for name in (table.branches() if table.branch is None else []):
        # live branches pin their files/sidecars: expiring main snapshots
        # must never reclaim data a staged (unpublished) branch references
        bt = Miniberg(table.root, branch=name)
        bf, bs = collect_references(bt, bt.versions())
        branch_refs.append((bf, bs))
        try:
            # publish_branch diffs the branch against main's manifest AT THE
            # FORK VERSION — expiring it would strand the branch (publish
            # would crash, not conflict), so a live branch pins its fork
            # snapshot exactly like a tag does
            branch_pins.add(bt.manifest()["fork_version"])
        except (FileNotFoundError, KeyError):
            pass  # branch dropped mid-scan / pre-fork-tracking manifest
    survivors = sorted(survivors | (branch_pins & set(versions)))

    keep_files, keep_sidecars = collect_references(table, survivors)
    for bf, bs in branch_refs:
        keep_files |= bf
        keep_sidecars |= bs

    removed: list[str] = []
    for v in versions:
        if v in survivors:
            continue
        p = table._vpath(v)
        try:
            os.unlink(p)
            removed.append(p)
        except FileNotFoundError:
            continue  # a concurrent expiry got there first
    now = _time.time()
    removed += gc_unreferenced(
        os.path.join(table.data_dir, "*.parquet"), keep_files, grace_seconds, now
    )
    # sidecars pinned only by expired snapshots go with them (same grace)
    removed += gc_unreferenced(
        os.path.join(table.fm_dir, "*.json"), keep_sidecars, grace_seconds, now
    )
    return removed


def split_buckets(
    spark: SparkSession, table: Miniberg, *, factor: int = 2
) -> int:
    """Re-bucket the table N -> factor*N in one atomic commit — the answer to
    "num_buckets is fixed at creation" at lake scale: as the table grows, a
    COW rewrite of one bucket grows with it; splitting restores bucket-sized
    rewrites without re-creating the table.

    SHUFFLE-FREE by construction: with bucket = pmod(hash(key), N), every
    row of old bucket b lands in {b, b + N, b + 2N, ...} under the new
    function — each (bucket-pure) input file fans out into at most ``factor``
    output files locally, so the rewrite is a map-only write (no Exchange).
    Readers/writers racing this commit CAS-conflict and retry, like compact.
    The num_buckets change is atomic with the data rewrite: a manifest never
    mixes bucket functions.
    """
    m = table.manifest()
    n_new = m["num_buckets"] * factor
    df = table.read(spark, include_internal=True)
    # NOTE: no repartition — bucket-pure inputs split locally (map-only)
    added = table.write_staged(
        df.withColumn("_bucket", Miniberg.bucket_expr(m["key_col"], n_new)),
        m["schema_id"],
    )
    return table.commit(
        added_files=added,
        replaced_buckets=set(range(m["num_buckets"])),
        expected_parent=m["version"],
        num_buckets=n_new,
        props_fn=lambda v: {"last_bucket_split_version": v},
    )


def table_stats(table: Miniberg) -> dict:
    """Operational summary: files/rows/bytes per bucket, snapshot count."""
    m = table.manifest()
    summ = table.bucket_summaries(m)  # O(buckets): no sidecar reads
    return {
        "version": m["version"],
        "snapshots": len(glob.glob(os.path.join(table.meta_dir, "v*.json"))),
        "files": sum(s["n_files"] for s in summ.values()),
        "rows": sum(s["rows"] for s in summ.values()),
        "max_files_per_bucket": max((s["n_files"] for s in summ.values()), default=0),
        "last_applied_batch": m["last_applied_batch"],
        "schema_id": m["schema_id"],
    }

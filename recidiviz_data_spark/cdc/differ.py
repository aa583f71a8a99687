"""Snapshot differ (SURVEY.md §4.3.5): diff two versions of a table into
insert/update/delete change events — the relational re-expression of the
reference's ``update_historical_snapshots`` compare-before-write (a scrape
session's roster snapshot vs the open snapshots in the DB).

``differ ∘ apply = identity``: applying the emitted events to the old
snapshot must reproduce the new one (tested in test_differ.py).

event_seq semantics: every event from one diff carries the same
``snapshot_seq`` — LWW only needs ordering per doc ACROSS snapshots, and a doc
appears at most once per diff. This avoids any global row-numbering shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def row_images(
    old: DataFrame,
    new: DataFrame,
    *,
    key: str,
    cols: list[str],
) -> DataFrame:
    """Pre/post images of the rows that differ between two snapshots: one
    row per key that was inserted, deleted, or changed in any of ``cols``,
    as (<key>, _in_old, _o_<c>..., _in_new, <c>...). ``_in_old`` /
    ``_in_new`` are true on the side the key is present and null on the
    other, so a side whose payload is all-null still reads as present.
    Unchanged keys are dropped, so the result is sized by the change, not by
    the snapshots. ``snapshot_diff`` and the view syncs both fold this."""
    o = old.select(key, F.lit(True).alias("_in_old"),
                   *[F.col(c).alias(f"_o_{c}") for c in cols])
    # the join key is never duplicated: a ``cols`` entry naming it reads the
    # joined key on the new side
    n = new.select(key, F.lit(True).alias("_in_new"),
                   *[c for c in cols if c != key])
    moved = F.col("_in_old").isNull() | F.col("_in_new").isNull()
    for c in cols:
        moved = moved | ~F.col(c).eqNullSafe(F.col(f"_o_{c}"))
    return o.join(n, key, "full_outer").filter(moved)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key: str = "doc_id",
    payload_cols: list[str] | None = None,
    snapshot_seq: int = 0,
    ts=None,
) -> DataFrame:
    """Emit changelog events turning ``old`` into ``new``.

    Returns (event_seq, op, <key>, <payload...>, ts, schema_ver) — the engine's
    changelog schema. Unchanged rows emit nothing (the reference's
    skip-unchanged-snapshot optimization).
    """
    payload_cols = payload_cols or [c for c in new.columns if c != key]
    j = row_images(old, new, key=key, cols=payload_cols)
    op = (
        F.when(F.col("_in_old").isNull(), "I")
        .when(F.col("_in_new").isNull(), "D")
        .otherwise("U")
    )
    out = (
        j.withColumn("op", op)
        .select(
            F.lit(snapshot_seq).cast("long").alias("event_seq"),
            "op",
            key,
            *[
                F.when(F.col("op") != "D", F.col(c)).alias(c)
                for c in payload_cols
            ],
            # NTZ: the changelog contract's ts type (parquet timestamp[us]
            # loads as NTZ; CHANGELOG_V1_SCHEMA declares NTZ) — an LTZ column
            # here would skew through the session timezone when unioned/tailed
            # alongside generated batches
            F.lit(ts).cast("timestamp_ntz").alias("ts"),
            F.lit(1).cast("int").alias("schema_ver"),
        )
    )
    return out


def table_changes_pruned(
    spark,
    table,
    from_version: int,
    to_version: int,
    *,
    cols: list[str],
) -> DataFrame:
    """Column-pruned, BUCKET-pruned change feed between two snapshots of a
    miniberg table — the diff the index syncs run every advance.

    Buckets whose file sets are identical in both snapshots hold identical
    rows and so contribute no events; ``changed_buckets`` (pure metadata —
    sidecar-path comparison, range-level under the third manifest layout)
    restricts BOTH snapshot reads to the buckets that moved. At lake scale
    this turns an index sync over a small commit from two full table scans
    into a few bucket reads. ``cols`` prunes the payload to what the index
    ingests (text / embedding), so column pruning reaches the parquet scan
    too. Falls back to full reads when bucket identity is not comparable
    (``changed_buckets`` returns None: the bucket function changed)."""
    key, old, new = _pruned_pair(spark, table, from_version, to_version, cols)
    return snapshot_diff(old, new, key=key, payload_cols=list(cols))


def table_row_images(
    spark,
    table,
    from_version: int,
    to_version: int,
    *,
    cols: list[str],
) -> DataFrame:
    """``row_images`` between two snapshots of a miniberg table, with the
    same bucket and column prune as ``table_changes_pruned`` — the keyed
    changed-row diff the materialized views fold."""
    key, old, new = _pruned_pair(spark, table, from_version, to_version, cols)
    return row_images(old, new, key=key, cols=list(cols))


def _pruned_pair(spark, table, from_version, to_version, cols):
    key = table.manifest(to_version)["key_col"]
    buckets = table.changed_buckets(from_version, to_version)
    old, new = (
        table.read(spark, version=v, buckets=buckets)
        .select(key, *[c for c in cols if c != key])
        for v in (from_version, to_version)
    )
    return key, old, new

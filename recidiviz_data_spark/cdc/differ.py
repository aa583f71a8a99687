"""Snapshot differ (SURVEY.md §4.3.5): diff two versions of a table into
insert/update/delete change events — the relational re-expression of the
reference's ``update_historical_snapshots`` compare-before-write (a scrape
session's roster snapshot vs the open snapshots in the DB).

``row_images`` diffs two DataFrames; ``Miniberg.row_images`` diffs two
snapshots of a miniberg table in ONE read of their files, and every table
diff — views, index syncs, ``Miniberg.table_changes`` — is that scan.

``differ ∘ apply = identity``: applying the emitted events to the old
snapshot must reproduce the new one (tested in test_differ.py).

event_seq semantics: every event from one diff carries the same
``snapshot_seq`` — LWW only needs ordering per doc ACROSS snapshots, and a doc
appears at most once per diff. This avoids any global row-numbering shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def moved(cols: list[str]):
    """An image row whose key is on one side only, or whose ``cols`` differ."""
    moved = F.col("_in_old").isNull() | F.col("_in_new").isNull()
    for c in cols:
        moved = moved | ~F.col(c).eqNullSafe(F.col(f"_o_{c}"))
    return moved


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
    the snapshots."""
    o = old.select(key, F.lit(True).alias("_in_old"),
                   *[F.col(c).alias(f"_o_{c}") for c in cols])
    # the join key is never duplicated: a ``cols`` entry naming it reads the
    # joined key on the new side
    n = new.select(key, F.lit(True).alias("_in_new"),
                   *[c for c in cols if c != key])
    return o.join(n, key, "full_outer").filter(moved(cols))


def table_row_images(
    spark,
    table,
    from_version: int,
    to_version: int,
    *,
    cols: list[str],
) -> DataFrame:
    """``Miniberg.row_images`` (one read of the files) of only the buckets
    whose file sets moved (``changed_buckets``, pure metadata; every bucket
    when the bucket function changed) — the keyed changed-row diff the
    views fold."""
    return table.row_images(spark, from_version, to_version, cols=cols,
                            buckets=table.changed_buckets(from_version, to_version))


def image_events(
    images: DataFrame,
    *,
    key: str,
    payload_cols: list[str],
    snapshot_seq: int = 0,
    ts=None,
) -> DataFrame:
    """Row images -> changelog events (event_seq, op, <key>, <payload...>,
    ts, schema_ver) — the engine's changelog schema."""
    op = (
        F.when(F.col("_in_old").isNull(), "I")
        .when(F.col("_in_new").isNull(), "D")
        .otherwise("U")
    )
    return images.withColumn("op", op).select(
        F.lit(snapshot_seq).cast("long").alias("event_seq"),
        "op",
        key,
        *[F.when(F.col("op") != "D", F.col(c)).alias(c) for c in payload_cols],
        # NTZ: the changelog contract's ts type (parquet timestamp[us] loads
        # as NTZ; CHANGELOG_V1_SCHEMA declares NTZ) — an LTZ column here
        # would skew through the session timezone when unioned/tailed
        # alongside generated batches
        F.lit(ts).cast("timestamp_ntz").alias("ts"),
        F.lit(1).cast("int").alias("schema_ver"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key: str = "doc_id",
    payload_cols: list[str] | None = None,
    snapshot_seq: int = 0,
    ts=None,
) -> DataFrame:
    """Emit changelog events turning ``old`` into ``new``. Unchanged rows
    emit nothing (the reference's skip-unchanged-snapshot optimization)."""
    payload_cols = payload_cols or [c for c in new.columns if c != key]
    return image_events(row_images(old, new, key=key, cols=payload_cols),
                        key=key, payload_cols=payload_cols,
                        snapshot_seq=snapshot_seq, ts=ts)


def table_changes_pruned(
    spark,
    table,
    from_version: int,
    to_version: int,
    *,
    cols: list[str],
) -> DataFrame:
    """The events of ``table_row_images`` over ``cols`` (what an index
    ingests: text / embedding) — the diff the index syncs run every
    advance."""
    return image_events(
        table_row_images(spark, table, from_version, to_version, cols=cols),
        key=table.manifest(to_version)["key_col"], payload_cols=list(cols),
    )

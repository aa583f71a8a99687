"""Streaming ingestion (SURVEY.md §2.7): two equivalent tailers.

1. ``ChangelogTailer`` — deterministic micro-batch loop over changelog
   ``batch_id`` partitions (availableNow semantics). This is the production
   path: batches are the WAL's own commit units, the manifest watermark is the
   checkpoint, replay is idempotent. The reference analog is the scrape-task
   queue worker draining its queue (SURVEY §2.1 S8).

2. ``stream_apply_available_now`` — genuine Structured Streaming
   (``readStream.parquet`` + ``foreachBatch`` -> miniberg MERGE), trigger
   availableNow, Spark checkpointLocation for source progress + the miniberg
   watermark for sink idempotency (the standard exactly-once foreachBatch
   recipe). Correct for ANY file->microbatch grouping because staleness is
   event_seq-based, not arrival-based.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from recidiviz_data_spark.cdc.apply import apply_batch, apply_batches
from recidiviz_data_spark.tables.miniberg import Miniberg


class ChangelogTailer:
    """Micro-batch tail of a changelog directory into a miniberg table."""

    def __init__(self, spark: SparkSession, table: Miniberg, changelog_dir: str, **apply_kw):
        self.spark = spark
        self.table = table
        self.changelog_dir = changelog_dir
        self.apply_kw = apply_kw

    def run_available(self) -> list[dict]:
        """Drain everything past the committed watermark (availableNow)."""
        return apply_batches(self.spark, self.table, self.changelog_dir, **self.apply_kw)

    @property
    def watermark(self) -> int:
        return self.table.manifest()["last_applied_batch"]


CHANGELOG_V1_SCHEMA = T.StructType(
    [
        T.StructField("event_seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("schema_ver", T.IntegerType(), True),
        T.StructField("batch_id", T.LongType(), True),
    ]
)


def _checkpoint_identity(checkpoint_dir: str) -> str:
    """The Spark streaming-query id from ``<checkpoint>/metadata`` — stable
    across restarts of the SAME checkpoint, different for a recreated one.
    Epoch ids restart from 0 when a checkpoint is recreated, so the
    epoch->batch_id mapping must be scoped to this identity.

    Fallback when the metadata file is unreadable (e.g. a non-local
    checkpoint URI): a hash of the checkpoint path. Never a shared constant —
    aliasing two different checkpoints to one scope would let one stream's
    last-epoch marker classify another's NEW data as a replay."""
    import hashlib as _hashlib
    import json as _json
    import os as _os

    p = _os.path.join(checkpoint_dir, "metadata")
    try:
        with open(p) as f:
            return str(_json.load(f)["id"])
    except (OSError, ValueError, KeyError):
        return "path-" + _hashlib.md5(
            _os.path.abspath(checkpoint_dir).encode()
        ).hexdigest()[:12]


def stream_apply_available_now(
    spark: SparkSession,
    table: Miniberg,
    changelog_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 2,
    schema: T.StructType = CHANGELOG_V1_SCHEMA,
    post_batch=None,
    **apply_kw,
) -> None:
    """Structured-Streaming drive of the same MERGE: each source micro-batch
    is applied as one engine batch keyed past the current watermark; the
    sink's manifest watermark makes epoch replays no-ops (exactly-once).

    ``post_batch(table, batch_id)`` (optional) runs driver-side after each
    COMMITTED epoch — replayed/empty epochs never fire it. This is the hook
    that keeps derived artifacts in step with the stream (see
    ``index_sync_hook``): because every sync is version-diff based and
    idempotent, a crash between the miniberg commit and the hook (or between
    the hook and the Spark checkpoint commit) self-heals on the next epoch's
    hook run. ``schema`` overrides the source schema for changelogs carrying
    extra payload columns (text, embedding, ...).

    The epoch->batch_id mapping is scoped to the CHECKPOINT IDENTITY and an
    epoch is skipped only when the table props prove THIS checkpoint already
    committed it — so neither a recreated checkpoint (epochs restart at 0)
    nor an interleaved batch writer advancing the watermark can silently drop
    new data. When a foreign writer has moved the watermark past the mapped
    id, the mapping is re-based to watermark+1 (exactly-once still holds:
    replays of a committed epoch match the persisted last-epoch marker)."""

    def sink(batch_df, epoch_id: int):
        if batch_df.isEmpty():
            return
        # idempotency key derived from the STREAM EPOCH, anchored to the
        # table's watermark at the stream's first commit (persisted in table
        # props per checkpoint id): a replayed epoch after a crash between the
        # miniberg commit and the Spark checkpoint commit maps to the SAME
        # batch_id, which the watermark makes a clean no-op — true
        # exactly-once, no duplicate lineage, no double-advanced watermark.
        # The whole map-then-apply runs in a retry loop: a foreign writer can
        # commit BETWEEN our manifest read and apply_batch's own watermark
        # check (apply returns [] / raises CommitConflict) — re-read, re-map,
        # retry rather than silently treating the epoch as done.
        from recidiviz_data_spark.tables.miniberg import CommitConflict

        ckpt = _checkpoint_identity(checkpoint_dir)
        base_key = f"stream_epoch_base:{ckpt}"
        epoch_key = f"stream_last_epoch:{ckpt}"
        for _ in range(8):
            m = table.manifest()
            props = m["props"]
            base = props.get(base_key)
            last_epoch = props.get(epoch_key)
            if base is None:
                base = m["last_applied_batch"] + 1 - epoch_id
            batch_id = base + epoch_id
            if batch_id <= m["last_applied_batch"]:
                if last_epoch is not None and epoch_id <= last_epoch:
                    return  # proven replay: THIS checkpoint committed it
                # a foreign writer advanced the watermark past our mapping —
                # re-base so this NEW epoch's data is not silently dropped
                base = m["last_applied_batch"] + 1 - epoch_id
                batch_id = base + epoch_id
            try:
                lineage = apply_batch(
                    spark, table, batch_df.drop("batch_id"), batch_id,
                    commit_props={base_key: base, epoch_key: epoch_id},
                    **apply_kw,
                )
            except CommitConflict:
                continue  # raced mid-commit: re-read the manifest and re-map
            if lineage:
                if post_batch is not None:
                    post_batch(table, batch_id)
                return  # committed (a non-empty batch always yields lineage)
            # apply_batch saw a fresher watermark than we did and skipped:
            # loop to re-map against the new manifest
        raise RuntimeError(
            f"stream sink could not commit epoch {epoch_id} after 8 attempts "
            "(persistent watermark races from a concurrent writer)"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(changelog_dir)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _shared_view_diff(spark, table: Miniberg, views: list[tuple[str, str, str]]):
    """(diff, from_version, to_version) for one ``index_sync_hook`` call:
    the changed-row diff (``table_row_images``) over every column of
    ``views`` — (path, group_col, value_col) — from the version most of them
    last synced to, up to the current one: one read of the changed buckets'
    files and one exchange. It is checkpointed lazily (its exchange runs
    here, its last stage inside the first view sync that folds it, which
    keeps it for the rest); a view stored at another version (or a sync
    that sees a newer commit) diffs for itself. (None, None, None) when no
    view of this table is behind."""
    from collections import Counter

    from recidiviz_data_spark.cdc.differ import table_row_images
    from recidiviz_data_spark.session import materialize_lazily
    from recidiviz_data_spark.tables import artifacts

    cur_v, uid = table.current_version(), artifacts.table_uid(table)
    behind = Counter()
    for vpath, _g, _v in views:
        meta = artifacts.sync_meta(vpath)
        if meta and meta.get("table_uuid") == uid and meta["version"] < cur_v:
            behind[meta["version"]] += 1
    if not behind:
        return None, None, None
    from_v = behind.most_common(1)[0][0]
    cols = sorted({c for _p, g, v in views for c in (g, v)})
    diff = table_row_images(spark, table, from_v, cur_v, cols=cols)
    return materialize_lazily(diff), from_v, cur_v


def index_sync_hook(
    spark: SparkSession,
    *,
    band_path: str | None = None,
    ivf_path: str | None = None,
    clusters_path: str | None = None,
    agg_views: list[tuple[str, str, str]] | None = None,
    distinct_views: list[tuple[str, str, str]] | None = None,
    topk_views: list[tuple[str, str, str, int]] | None = None,
    sync_kw: dict | None = None,
    view_sync_kw: dict | None = None,
    results: list | None = None,
):
    """``post_batch`` composer: keep the persisted derived indexes in step
    with a streamed miniberg table — index-follows-stream.

    Each committed micro-batch triggers the configured syncs (band index,
    IVF index, near-dup cluster table); every sync is a version diff from
    the snapshot the index last represented, so per-micro-batch work is
    O(batch blast radius), not O(corpus), and a replayed hook call is a
    no-op. Order matters only for the cluster table, which consumes the band
    index: it runs last and its internal ``band_index_sync`` call sees an
    already-current index (noop). At 100 TB this is the serving story: the
    stream commits a snapshot, the indexes advance incrementally, searches
    read only probed cells/bands — no full rebuild on any hot path.

    ``agg_views`` / ``distinct_views`` — (path, group_col, value_col) — and
    ``topk_views`` — (path, group_col, value_col, k) — keep incremental
    materialized views (operators/aggview.py) in the same loop, the
    streaming half of classic IVM. Each call builds ONE keyed changed-row
    diff over the agg and distinct views' columns, from the version most of
    them last synced to, and hands it to each of their syncs with its
    ``from_version`` / ``to_version``; a view stored at another version
    diffs for itself. The diff reads each file of the changed buckets once
    (both snapshots' sides resolve in one group-by), and neither sync runs
    a job only to count, so an agg plus a distinct view advance in about a
    dozen Spark jobs (``tests/test_aggview.py::HOOK_JOB_BUDGET``).
    The diff lives only for this call. An agg view recomputes a group's
    min/max only when the diff removed a value equal to its stored
    extremum. Top-k views read their changed buckets themselves (their
    per-bucket partials need the full bucket).

    ``view_sync_kw`` forwards keyword overrides shared by all three VIEW
    syncs (``rebuild_changed_fraction``) — ``sync_kw`` reaches only the
    band/IVF/cluster syncs, whose signatures differ; without this a stream
    on a few-bucket table silently full-rebuilt every view each micro-batch
    (the 0.5-default pitfall CLAUDE.md documents — ADVICE r7).

    ``results`` (optional list) collects each sync's return dict, tagged
    with index kind and batch_id, for observability/assertions."""
    kw = sync_kw or {}
    vkw = view_sync_kw or {}

    def hook(table: Miniberg, batch_id: int) -> None:
        from recidiviz_data_spark.operators import aggview
        from recidiviz_data_spark.operators.dedup import (
            band_index_sync,
            neardup_clusters_sync,
        )
        from recidiviz_data_spark.operators.similarity import ivf_index_sync

        outs = []
        if band_path is not None:
            outs.append(("band", band_index_sync(spark, table, band_path, **kw)))
        if ivf_path is not None:
            outs.append(("ivf", ivf_index_sync(spark, table, ivf_path, **kw)))
        if clusters_path is not None:
            outs.append(
                ("clusters",
                 neardup_clusters_sync(spark, table, clusters_path,
                                       band_path=band_path, **kw))
            )
        changes, from_v, to_v = _shared_view_diff(
            spark, table, [*(agg_views or []), *(distinct_views or [])])
        for kind, vsync, specs in (("aggview", aggview.agg_view_sync, agg_views),
                                   ("distinctview", aggview.distinct_view_sync,
                                    distinct_views)):
            for vpath, g, v in specs or []:
                outs.append(
                    (f"{kind}:{g}:{v}",
                     vsync(spark, table, vpath, group_col=g, value_col=v,
                           changes=changes, from_version=from_v,
                           to_version=to_v, **vkw))
                )
        for vpath, g, v, k in topk_views or []:
            outs.append(
                (f"topkview:{g}:{v}:{k}",
                 aggview.topk_view_sync(spark, table, vpath, group_col=g,
                                        value_col=v, k=k, **vkw))
            )
        if results is not None:
            for kind, r in outs:
                results.append({"kind": kind, "batch_id": batch_id, **r})

    return hook

"""The CDC apply path: changelog batch -> LWW dedup -> bucket-pruned
copy-on-write MERGE -> atomic snapshot commit (SURVEY.md §3.1 "ours", §4.3).

This is the Spark-first re-expression of the reference's per-scrape-session
persistence transaction (entity match -> compare -> write master + history
rows -> COMMIT; see SURVEY.md §3.1 entry point A):

  reference ``persistence/entity_matching.py`` (match on external key)
      -> equi-join on doc_id (J1)
  reference ``update_historical_snapshots.py`` (compare, close/open snapshot)
      -> LWW winner classification (applied / deleted / stale)
  reference single-DB-transaction commit
      -> miniberg atomic manifest commit, idempotent on batch_id

Scale design (10^10 events / 1000 executors):
- ONE wide shuffle per batch: the LWW dedup keyed on (bucket, doc_id).
  Default strategy ``agg`` = ``max(struct(event_seq, op, payload))`` — partial
  aggregation (map-side combine) collapses duplicates/hot keys before the
  shuffle, so Zipf skew never concentrates raw events on one reducer.
  ``argmax`` (key-only shuffle), ``window`` (the spec-named row_number
  form) and ``salted_window`` (two-phase: per-salt partial row_number, then
  global) are provided and tested equivalent; see bench for the comparison.
  All four are one function, ``dedup_lww``, with one result contract.
- Target I/O is bucket-pruned: only manifest files whose bucket intersects
  the batch's buckets are read/rewritten (Iceberg COW MERGE re-expressed).
- The decision pass reads ONLY (doc_id, _seq) from the target — column
  pruning reaches the parquet scan.
- The rewrite pass anti-joins the (small) changed-doc set against the target;
  AQE turns that into a broadcast join — target payload streams through
  UNSHUFFLED (its files are bucket-pure); only the winner rows re-shuffle for
  bucket placement. ``compact='auto'`` folds a full per-bucket re-bucketing
  into the commit once a bucket accumulates too many files (compaction rides
  along with a normal write instead of being a separate job).
- Winners are persisted (MEMORY_AND_DISK) — they are one row per doc touched,
  orders of magnitude smaller than the raw event stream.
- Every dedup strategy fuses LWW winner selection with the per-doc input
  metrics (event and invalid counts), so no second pass over the batch
  computes them.
- Bucketing and the staged partitioned write are the table's
  (``Miniberg.bucket_expr``, ``Miniberg.write_staged``): every writer
  buckets rows and stages files the same way.

``apply_batch`` runs the transaction as five phases over one ``_Plan``
record: ``_plan`` -> ``_decide`` (match + compare) -> ``_choose_writes``
-> ``_rewrite_and_stage`` (write) -> ``_commit``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from recidiviz_data_spark.functions.tokens import normalize_tokens_native
from recidiviz_data_spark.sources.changelog import (
    list_batches,
    payload_columns,
    read_batch,
    read_range,
)
from recidiviz_data_spark.tables.miniberg import (
    Miniberg,
    _nullable,
    _type_from_json,
    align_to_schema as _align,
)

BUCKET = "_bucket"
SEQ = "_seq"
DELETED = "_deleted"

# decision-read pruning ("auto"): collecting the batch's distinct buckets
# costs one extra Spark job; only pay it when the target is big enough that
# an unpruned 2-column (doc_id, _seq) scan would cost more than the job
# round-trip. At lake scale this always prunes; small tables skip the job.
DECISION_PRUNE_MIN_BYTES = 1 << 30

# salted_window's phase-1 fan-out: a hot doc's events split over this many
# (doc_id, salt) window partitions before the per-doc pass
SALT_PARTITIONS = 16


class InvalidBatchError(Exception):
    """Batch rejected by the invalid-event threshold gate (no commit)."""


# --------------------------------------------------------------------- dedup
def dedup_lww(
    raw: DataFrame,
    payload_cols: list[str],
    *,
    strategy: str = "agg",
) -> DataFrame:
    """LWW dedup of a bucketed batch that carries the ``_valid`` flag (NULL
    counts as invalid): one row per (bucket, doc_id) with ``_n_events``,
    ``_n_invalid`` and the winner — the max (event_seq, op, *payload) among
    the doc's VALID events, a lexicographic total order, so equal event_seqs
    break deterministically. A doc with only invalid events gets event_seq,
    op and payload NULL (a metrics-only row). Every strategy takes the
    counts from the pass that picks the winner.

    agg           groupBy(bucket, doc_id).max(struct(event_seq, op, payload)) —
                  partial agg absorbs skew map-side; the shuffle moves ≤1 row
                  per (doc, partition). Struct-max, not max_by: max_by's tie
                  resolution depends on physical row order.
    argmax        key-only shuffle: pass 1 aggregates (bucket, doc_id) -> max
                  valid event_seq + metrics (~24 bytes per doc); pass 2 joins
                  the VALID events back on (doc_id, event_seq) — AQE
                  broadcasts the key set, so the payload is filtered in place
                  — and collapses copies of a winner with a winner-sized
                  group-by. One extra batch scan for far fewer shuffle bytes
                  when docs carry several events.
    window        row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC)=1
                  (the BASELINE.json-named form); full event shuffle + sort.
                  The counts come from the same window, whole-frame.
    salted_window two-phase window for hot keys: partition (doc_id, salt)
                  first, then (doc_id) over the ≤``SALT_PARTITIONS``
                  survivors, summing the per-salt counts.
    """
    n_events = F.count("*")
    n_invalid = F.sum(F.when(F.col("_valid"), 0).otherwise(1))
    if strategy == "agg":
        w = F.struct("event_seq", "op", *payload_cols)
        g = raw.groupBy(BUCKET, "doc_id").agg(
            F.max(F.when(F.col("_valid"), w)).alias("_w"),
            n_events.alias("_n_events"),
            n_invalid.alias("_n_invalid"),
        )
        return g.select(BUCKET, "doc_id", "_n_events", "_n_invalid", "_w.*")
    if strategy == "argmax":
        keys = raw.groupBy(BUCKET, "doc_id").agg(
            F.max(F.when(F.col("_valid"), F.col("event_seq"))).alias("event_seq"),
            n_events.alias("_n_events"),
            n_invalid.alias("_n_invalid"),
        )
        wrows = (
            # join only VALID rows back: an invalid event sharing the winner's
            # (doc_id, event_seq) must never supply the applied payload
            raw.filter("_valid")
            .join(keys.select("doc_id", "event_seq"), ["doc_id", "event_seq"], "inner")
            .groupBy("doc_id", "event_seq")
            .agg(F.max(F.struct("op", *payload_cols)).alias("_w"))
        )
        return keys.join(wrows, ["doc_id", "event_seq"], "left").select(
            BUCKET, "doc_id", "_n_events", "_n_invalid", "event_seq", "_w.*"
        )
    # the row_number forms rank valid events first, then mirror the struct-max
    # order (struct-max treats a null field as lowest; DESC NULLS LAST matches)
    order = [
        F.desc_nulls_last("_valid"),
        F.desc("event_seq"),
        F.desc_nulls_last("op"),
        *[F.desc_nulls_last(c) for c in payload_cols],
    ]

    def top(df: DataFrame, keys: list[str], n_events, n_invalid) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(*order)
        whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n_events", n_events.over(whole))
            .withColumn("_n_invalid", n_invalid.over(whole))
            .filter(F.col("_rn") == 1)
        )

    if strategy == "window":
        best = top(raw, ["doc_id"], n_events, n_invalid)
    elif strategy == "salted_window":
        salt = F.pmod(F.xxhash64("event_seq"), F.lit(SALT_PARTITIONS))
        partial = top(raw.withColumn("_salt", salt), ["doc_id", "_salt"],
                      n_events, n_invalid)
        best = top(partial, ["doc_id"], F.sum("_n_events"), F.sum("_n_invalid"))
    else:
        raise ValueError(f"unknown dedup strategy {strategy!r}")
    return best.select(
        BUCKET, "doc_id", "_n_events", "_n_invalid",
        *[F.when(F.col("_valid"), F.col(c)).alias(c)
          for c in ("event_seq", "op", *payload_cols)],
    )


# ------------------------------------------------------------------ helpers
def _validity(df: DataFrame) -> F.Column:
    """An event is valid iff op∈{I,U,D} and non-deletes carry a consistent
    payload (the reference's ingest-validator analog, SURVEY.md §2.2 P4)."""
    op_ok = F.col("op").isin("I", "U", "D")
    payload_ok = F.when(
        F.col("op") == "D", F.lit(True)
    ).otherwise(
        F.col("doc_id").isNotNull()
        & F.col("tokens").isNotNull()
        & (F.col("n_tok").cast("long") == F.size("tokens").cast("long"))
    )
    return op_ok & F.col("doc_id").isNotNull() & payload_ok


def _table_schema(fields: list[T.StructField]) -> T.StructType:
    """``fields`` with nested types nullable (``_nullable``), plus the
    internal ``_seq`` (per-row staleness watermark) and ``_deleted``
    (tombstone flag) columns the merge relies on."""
    return T.StructType(
        [T.StructField(f.name, _nullable(f.dataType), f.nullable) for f in fields]
        + [T.StructField(SEQ, T.LongType(), True), T.StructField(DELETED, T.BooleanType(), True)]
    )


def _table_rows(winners: DataFrame, payload_cols: list[str], deleted: F.Column) -> DataFrame:
    """LWW winners as table rows: ``_seq`` = event_seq, and a ``deleted``
    winner becomes a tombstone (payload nulled, ``_seq`` kept) so a stale
    event that arrives later cannot resurrect the doc."""
    out = winners.withColumn(SEQ, F.col("event_seq")).withColumn(DELETED, deleted)
    for c in payload_cols:
        out = out.withColumn(c, F.when(F.col(DELETED), F.lit(None)).otherwise(F.col(c)))
    return out


# -------------------------------------------------------------------- apply
@dataclass(frozen=True)
class _Writes:
    """What an apply writes (``_choose_writes``)."""

    changed: dict[int, int]        # bucket -> changed (applied + deleted) rows
    cow: set[int]                  # rewritten copy-on-write (replaced)
    mor: set[int]                  # given a merge-on-read delta file
    compacting: bool               # the copy-on-write rewrite re-buckets fully
    bucket_keys: dict[int, int]    # the merge-on-read buckets' key stamps
    bloom_ndv: int | str | None


@dataclass
class _Plan:
    """One apply's plan record: ``_plan`` fills the fields without a
    default, and each later phase sets its own."""

    batch_id: int
    started: float                 # monotonic clock at the start of the apply
    manifest: dict                 # the parent snapshot the commit CASes on
    summaries: dict[int, dict]     # its per-bucket summaries
    payload_cols: list[str]
    raw: DataFrame                 # the bucketed batch with its _valid flag
    fields: dict                   # the table schema after this batch
    schema_changed: bool
    persisted: list[DataFrame] = field(default_factory=list)
    decisions: DataFrame | None = None   # winners classified vs the target
    metrics: dict = field(default_factory=dict)  # bucket -> decision counts
    writes: _Writes | None = None
    added: list[dict] = field(default_factory=list)  # staged file entries


def _plan(table: Miniberg, batch_df: DataFrame, batch_id: int) -> _Plan | None:
    """Phase 1, plan: the parent manifest and its bucket summaries, the
    replay check (``None`` = batch already applied), the schema the table
    evolves to for this batch's payload, and the bucketed batch with its
    validity flag. Starts no Spark job."""
    started = time.monotonic()
    m = table.manifest()
    if batch_id <= m["last_applied_batch"]:
        return None
    # the merge logic (joins, changed-doc sets, validity) is written against
    # the changelog's fixed key column name; a table created with a different
    # key_col would silently bucket/prune inconsistently with maintenance ops
    # (which honor key_col) — refuse instead
    if m.get("key_col", "doc_id") != "doc_id":
        raise ValueError(
            f"apply_batch merges on 'doc_id' but table key_col={m['key_col']!r}"
        )
    payload_cols = [c for c in payload_columns(batch_df) if c != "doc_id"]
    clashes = [c for c in batch_df.columns if c.startswith("_")]
    if clashes:
        raise ValueError(
            f"changelog columns {clashes} collide with the engine's internal "
            "underscore-prefixed columns (_seq/_deleted/_bucket/...)"
        )
    fields, schema_changed = table.evolve_schema(_table_schema(
        [f for f in batch_df.schema.fields if f.name in {"doc_id", *payload_cols}]
    ))
    raw = batch_df.withColumn(
        BUCKET, Miniberg.bucket_expr("doc_id", m["num_buckets"])
    ).withColumn("_valid", _validity(batch_df))
    # O(buckets) summaries — the two-level manifest means the driver never
    # parses the file list on the apply path (reads load only touched
    # buckets' sidecars)
    return _Plan(batch_id, started, m, table.bucket_summaries(m), payload_cols,
                 raw, fields, schema_changed)


def _decide(
    spark: SparkSession,
    table: Miniberg,
    plan: _Plan,
    *,
    dedup_strategy: str,
    max_invalid_ratio: float | None,
) -> None:
    """Phase 2, decide: the batch's LWW winners classified against the
    target's ``_seq`` (``plan.decisions``, persisted) and their per-bucket
    counts, in one collect (``plan.metrics``); then the invalid-ratio
    gate."""
    winners = normalize_tokens_native(
        dedup_lww(plan.raw, plan.payload_cols, strategy=dedup_strategy)
    )
    # buckets any winner touches: prunes the DECISION read (stale checks need
    # the target's _seq for every winner doc). The rewrite prunes further, to
    # buckets with actual changes. Empty table -> nothing to prune, skip the
    # extra job entirely (bootstrap/first-batch fast path). On a small target
    # ("auto" below DECISION_PRUNE_MIN_BYTES) the distinct-bucket collect job
    # costs more than the unpruned 2-column scan it would save — skip it.
    if not plan.summaries:
        # bootstrap fast path: an empty table means no row can be stale —
        # skip the join (and its AQE stages) entirely
        matched = winners.withColumn("_t_seq", F.lit(None).cast("long"))
    else:
        affected: list[int] | None = None  # decision read covers all buckets
        if sum(s.get("bytes", 0) for s in plan.summaries.values()) >= DECISION_PRUNE_MIN_BYTES:
            # pruning gives winners TWO consumers (this collect + the decision
            # join) — persist; the unpruned path consumes winners exactly once
            # (inside the decisions persist), so caching them would be waste
            winners = winners.persist(StorageLevel.MEMORY_AND_DISK)
            plan.persisted.append(winners)
            affected = sorted(
                (r[BUCKET] for r in winners.select(BUCKET).distinct().collect()),
                key=lambda b: (b is None, b),
            )
        # winners vs target (doc_id, _seq) ONLY
        target_min = (
            table.read(spark, buckets=affected, include_internal=True)
            .select("doc_id", F.col(SEQ).alias("_t_seq"))
        )
        matched = winners.join(target_min, "doc_id", "left")
    # staleness compares against the row's _seq watermark, INCLUDING
    # tombstone rows — that is why deletes must leave a tombstone: a stale
    # update that arrives after a delete would otherwise resurrect the doc.
    cls = (
        F.when(F.col("event_seq").isNull(), F.lit("invalid_only"))
        .when(
            F.col("_t_seq").isNotNull() & (F.col("event_seq") <= F.col("_t_seq")),
            F.lit("stale"),
        )
        .when(F.col("op") == "D", F.lit("deleted"))
        .otherwise(F.lit("applied"))
    )
    plan.decisions = matched.withColumn("_cls", cls).persist(StorageLevel.MEMORY_AND_DISK)
    plan.persisted.append(plan.decisions)
    plan.metrics = {
        r[BUCKET]: r.asDict()
        for r in plan.decisions.groupBy(BUCKET)
        .agg(
            F.sum("_n_events").alias("events_in"),
            F.sum("_n_invalid").alias("invalid"),
            F.count(F.col("event_seq")).alias("winners"),
            F.sum(F.when(F.col("_cls") == "applied", 1).otherwise(0)).alias("applied"),
            F.sum(F.when(F.col("_cls") == "deleted", 1).otherwise(0)).alias("deleted"),
            F.sum(F.when(F.col("_cls") == "stale", 1).otherwise(0)).alias("stale_winners"),
            # brand-new keys this batch: winners whose doc has NO row in
            # the target (tombstones count as rows) — feeds the exact
            # per-bucket logical key count of a merge-on-read bucket
            # (winners are LWW-unique per doc, so count = distinct docs)
            F.sum(
                F.when(
                    F.col("_t_seq").isNull()
                    & F.col("_cls").isin("applied", "deleted"),
                    1,
                ).otherwise(0)
            ).alias("new_keys"),
        )
        .collect()
    }

    # error-threshold gate (the reference aborts the persistence write when
    # the scrape's error rate is too high — SURVEY.md §4.1): too many
    # invalid events means the upstream is broken; abort BEFORE any file is
    # written, leaving the table untouched (no commit, watermark unchanged).
    if max_invalid_ratio is not None:
        tot = sum((r["events_in"] or 0) for r in plan.metrics.values())
        bad = sum((r["invalid"] or 0) for r in plan.metrics.values())
        if tot and bad / tot > max_invalid_ratio:
            raise InvalidBatchError(
                f"batch {plan.batch_id}: invalid ratio {bad}/{tot} exceeds "
                f"{max_invalid_ratio}; aborting before write"
            )


def _choose_writes(
    metrics: dict,
    summaries: dict[int, dict],
    *,
    compact: str | bool,
    compact_files_per_bucket: int,
    mor: bool | str,
    mor_max_changed_fraction: float,
    bloom_ndv: int | str | None,
) -> _Writes:
    """Phase 3, choose writes (driver code only, from the per-bucket
    decision counts and the parent's bucket summaries). Only buckets with
    applied or deleted rows are written: a stale-heavy replay batch may
    touch every bucket yet change none. A merge-on-read delta (winner rows
    only) makes a 0.1%-dribble batch write ~0.1% of the bytes a rewrite
    would, and reads none of the bucket's base files; a compacting batch
    writes every changed bucket copy-on-write (the rewrite is already
    full-bucket), which bounds delta depth."""
    changed = {}
    for b, r in metrics.items():
        n = (r.get("applied") or 0) + (r.get("deleted") or 0)
        if n:
            changed[b] = n
    compacting = compact is True or (
        compact == "auto"
        and any(
            summaries.get(b, {}).get("n_files", 0) >= compact_files_per_bucket
            for b in changed
        )
    )
    # a summary without a stamp (written before every commit stamped its
    # buckets) counts as no base rows: the bucket is rewritten copy-on-write
    # and that commit stamps it
    keys_before = {b: summaries.get(b, {}).get("keys", 0) for b in changed}
    mor_buckets = {
        b for b, n in changed.items()
        if mor and not compacting
        and keys_before[b]  # no base rows: the "delta" would be the base
        and (mor is True or n <= mor_max_changed_fraction * keys_before[b])
    }
    if bloom_ndv == "auto":
        # size the filter from metadata already in hand: the largest output
        # file holds at most (bucket's current rows + its changed winners)
        # keys — parquet blooms must be configured BEFORE the write, so this
        # manifest-summary estimate stands in for the exact footer counts (an
        # over-sized bloom only costs ~1.2 bytes/key; an under-sized one
        # loses precision). The floor keeps degenerate demo batches from a
        # useless filter.
        bloom_ndv = max(1024, max(
            (summaries.get(b, {}).get("rows", 0) + n for b, n in changed.items()),
            default=0,
        ))
    return _Writes(
        changed=changed,
        cow=set(changed) - mor_buckets,
        mor=mor_buckets,
        compacting=compacting,
        # a delta adds to its bucket's keys rather than replacing them:
        # keys_before + brand-new winners (copy-on-write buckets need no
        # stamp; the commit counts their rows, one per key)
        bucket_keys={
            b: keys_before[b] + int(metrics[b].get("new_keys") or 0)
            for b in mor_buckets
        },
        bloom_ndv=bloom_ndv,
    )


def _rewrite_and_stage(spark: SparkSession, table: Miniberg, plan: _Plan) -> list[dict]:
    """Phase 4, rewrite and stage: the winners as table rows, plus the
    copy-on-write buckets' unchanged target rows, in one partitioned write.
    Returns the staged entries, merge-on-read ones ``kind="delta"``."""
    w, m = plan.writes, plan.manifest
    if not w.changed:
        return []
    target_schema = T.StructType([
        T.StructField(f["name"], _type_from_json(f["type"]), f["nullable"])
        for f in plan.fields["fields"]
    ])
    bucket = Miniberg.bucket_expr("doc_id", m["num_buckets"])
    changed = plan.decisions.filter(F.col("_cls").isin("applied", "deleted"))
    upserts = _align(
        _table_rows(changed, plan.payload_cols, F.col("_cls") == "deleted"),
        target_schema,
    ).withColumn(BUCKET, bucket)
    n_out = max(len(w.changed), 1)
    if not w.cow:
        # every changed bucket is merge-on-read: the write is the winners
        # alone, with no target read, anti-join or union
        rewrite = upserts.repartition(n_out, BUCKET)
    else:
        kept = (
            _align(
                table.read(spark, buckets=sorted(w.cow), include_internal=True),
                target_schema,
            )
            .join(changed.select("doc_id"), "doc_id", "left_anti")
            .withColumn(BUCKET, bucket)
        )
        if w.compacting:
            # full re-bucket: one file per bucket after this commit
            rewrite = kept.unionByName(upserts).repartition(n_out, BUCKET)
        else:
            # cheap path: target rows stream through the broadcast anti-join
            # unshuffled (their files are bucket-pure); only winners shuffle
            rewrite = kept.unionByName(upserts.repartition(n_out, BUCKET))
    # a key-column bloom (off by default) skips row groups for point lookups
    # whose key falls inside a file's wide min/max range; it costs ~1.2
    # bytes/key per file, which only pays once files carry ~10^5+ rows (the
    # lake shape, not the demo shape)
    added = table.write_staged(
        rewrite,
        m["schema_id"] + (1 if plan.schema_changed else 0),
        bloom_ndv=w.bloom_ndv,
    )
    for e in added:
        if e["bucket"] in w.mor:
            e["kind"] = "delta"
    return added


def _commit(table: Miniberg, plan: _Plan, commit_props: dict | None) -> list[dict]:
    """Phase 5, commit: lineage rows (FIXTURES.md §A5 reconciliation
    invariant) and the CAS commit on the parent. Returns the lineage."""
    w = plan.writes
    wall_ms = int((time.monotonic() - plan.started) * 1000)
    lineage = []
    for b in sorted(plan.metrics, key=lambda x: (x is None, x)):
        r = plan.metrics[b]
        g = lambda k: r.get(k) or 0
        losers = g("events_in") - g("invalid") - g("winners")
        row = {
            "batch_id": plan.batch_id,
            "bucket": b,
            "events_in": int(g("events_in")),
            "applied": int(g("applied")),
            "deleted": int(g("deleted")),
            "skipped_stale": int(g("stale_winners") + losers),
            "invalid": int(g("invalid")),
            "wall_ms": wall_ms,
        }
        if b in w.changed:  # write-mode observability (delta depth audits)
            row["write_mode"] = "mor" if b in w.mor else "cow"
        lineage.append(row)
    table.commit(
        added_files=plan.added,
        # MOR buckets are NOT replaced: their delta entries append into
        # the carried sidecar; only copy-on-write buckets swap wholesale
        replaced_buckets=w.cow,
        schema_fields=plan.fields if plan.schema_changed else None,
        last_applied_batch=plan.batch_id,
        lineage_rows=lineage,
        expected_parent=plan.manifest["version"],
        props=commit_props,
        bucket_keys=w.bucket_keys or None,
    )
    return lineage


def apply_batch(
    spark: SparkSession,
    table: Miniberg,
    batch_df: DataFrame,
    batch_id: int,
    *,
    dedup_strategy: str = "agg",
    compact: str | bool = "auto",
    compact_files_per_bucket: int = 4,
    max_invalid_ratio: float | None = None,
    commit_props: dict | None = None,
    mor: bool | str = "auto",
    mor_max_changed_fraction: float = 0.05,
    bloom_ndv: int | str | None = None,
) -> list[dict]:
    """MERGE one changelog batch into the table. Exactly-once: a batch_id at
    or below the committed watermark is a no-op. Returns lineage rows.

    Five phases pass one plan record (``_Plan``): ``_plan`` (manifest,
    replay check, schema evolution, validity), ``_decide`` (the dedup,
    ``dedup_lww`` with ``dedup_strategy``; the decision read; the metrics
    collect; the ``max_invalid_ratio`` gate), ``_choose_writes`` (write
    modes, key stamps, bloom size), ``_rewrite_and_stage`` and ``_commit``.
    ``mor`` ('auto'/True/False) writes merge-on-read DELTA files instead of
    rewriting buckets whose changed fraction is at most
    ``mor_max_changed_fraction``; ``compact='auto'`` re-buckets the whole
    rewrite once a changed bucket holds ``compact_files_per_bucket`` files.

    Driver-synchronous work is two collects and one write per batch on the
    common path (the decision-prune collect is skipped below
    ``DECISION_PRUNE_MIN_BYTES``), and planning the target reads starts no
    Spark job. Counted as Spark jobs, AQE sub-jobs included, that is about
    11 per batch (``cdc.spark_jobs_per_batch`` in the perfbench
    ``stream_tail`` trace: 12-event batches into a 32-bucket table, one
    merge-on-read and one compacting batch) — the serial term that bounds
    scaling at high executor counts.
    """
    plan = _plan(table, batch_df, batch_id)
    if plan is None:
        return []  # idempotent replay
    try:
        _decide(spark, table, plan, dedup_strategy=dedup_strategy,
                max_invalid_ratio=max_invalid_ratio)
        plan.writes = _choose_writes(
            plan.metrics, plan.summaries, compact=compact,
            compact_files_per_bucket=compact_files_per_bucket, mor=mor,
            mor_max_changed_fraction=mor_max_changed_fraction, bloom_ndv=bloom_ndv,
        )
        plan.added = _rewrite_and_stage(spark, table, plan)
        return _commit(table, plan, commit_props)
    finally:
        # unpersist on EVERY exit path (success, gate abort, write failure,
        # commit conflict) — a leaked persist lives for the session lifetime
        for df in plan.persisted:
            df.unpersist()


def apply_batches(
    spark: SparkSession,
    table: Miniberg,
    changelog_dir: str,
    *,
    upto: int | None = None,
    **kw,
) -> list[dict]:
    """Tail the changelog: apply every batch above the committed watermark
    (checkpoint resume = just call this again; the manifest remembers)."""
    lineage: list[dict] = []
    watermark = table.manifest()["last_applied_batch"]
    for b in list_batches(changelog_dir):
        if b <= watermark or (upto is not None and b > upto):
            continue
        lineage.extend(
            apply_batch(spark, table, read_batch(spark, changelog_dir, b), b, **kw)
        )
    return lineage


def _load_table(root: str, fields: list[T.StructField], rows: DataFrame,
                num_buckets: int, last_applied_batch: int | None = None) -> Miniberg:
    """Create a table of ``fields`` and load ``rows`` (one per key) as its
    first snapshot: create, align, stage, commit."""
    table = Miniberg.create(root, _table_schema(fields), num_buckets=num_buckets)
    out = _align(rows, table.spark_schema()).withColumn(
        BUCKET, Miniberg.bucket_expr("doc_id", num_buckets)
    )
    added = table.write_staged(out.repartition(num_buckets, BUCKET), 0)
    table.commit(added_files=added, replaced_buckets=set(range(num_buckets)),
                 last_applied_batch=last_applied_batch)
    return table


def apply_full_log(
    spark: SparkSession,
    table_root: str,
    changelog_dir: str,
    *,
    num_buckets: int = 16,
    dedup_strategy: str = "agg",
) -> Miniberg:
    """M1 naive replay: the whole log in one commit (bulk-bootstrap path —
    equivalent final state to batch-by-batch apply; used as the baseline).
    Same dedup and winner normalization as ``apply_batch``; delete winners
    are kept as tombstones, so later incremental applies on top of this
    table stay stale-safe."""
    log = read_range(spark, changelog_dir, normalize=True)
    payload_cols = [c for c in payload_columns(log) if c != "doc_id"]
    raw = log.withColumn(BUCKET, Miniberg.bucket_expr("doc_id", num_buckets)).withColumn(
        "_valid", _validity(log)
    )
    winners = normalize_tokens_native(
        dedup_lww(raw, payload_cols, strategy=dedup_strategy)
    ).filter(F.col("event_seq").isNotNull())  # docs with only invalid events
    return _load_table(
        table_root,
        [f for f in log.schema.fields if f.name in {"doc_id", *payload_cols}],
        _table_rows(winners, payload_cols, F.col("op") == "D"),
        num_buckets,
        last_applied_batch=max(list_batches(changelog_dir)),
    )


def create_empty_table(
    root: str,
    payload_schema: T.StructType,
    *,
    num_buckets: int = 16,
) -> Miniberg:
    """Create an empty target table of ``payload_schema`` (``_table_schema``)."""
    return Miniberg.create(root, _table_schema(payload_schema.fields),
                           num_buckets=num_buckets)


def bootstrap_table(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    *,
    num_buckets: int = 16,
) -> Miniberg:
    """Create a table from an initial (non-CDC) snapshot; rows get _seq=-1 so
    any changelog event (seq>=0) supersedes them."""
    rows = df.withColumn(SEQ, F.lit(-1).cast("long")).withColumn(DELETED, F.lit(False))
    return _load_table(root, df.schema.fields, rows, num_buckets)

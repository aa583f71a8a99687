"""Incremental materialized AGGREGATE views over a miniberg CDC table —
classic incremental view maintenance (IVM), the missing consumer tier above
the index syncs: a persisted ``GROUP BY`` whose every sync is EXACT (no
recall debt, no stale fraction), maintained from the change feed instead of
recomputed.

Reference parity: the reference's metric/export views (SURVEY.md §2.1 S7,
§2.4 A1/A7 [U]) are recomputed per run; this module gives them the
CDC-native form — the view advances with the table.

How a sync stays exact:

- Every incremental sync folds one keyed changed-row diff
  (``cdc.differ.table_row_images``): the pre- and post-image (group, value)
  of each key whose (group, value) moved. It is one read of the changed
  buckets' files — a file both snapshots hold is scanned once — and one
  group-by on the key resolves both sides. As a signed multiset (−1 per
  removed pre-image, +1 per added post-image) it is the exact delta of
  every view here: count/sum add it, the distinct support adds it at the
  (group, value) grain. Untouched buckets are never read; keys whose
  (group, value) did not move, and the groups they sit in, contribute
  nothing.
- min/max are not self-maintainable under delete/update (the removed row
  may BE the extremum). The same aggregate over the diff yields each
  group's gained min/max and its lost values; a group is recomputed only
  when a lost value equals its stored min or max. Every other group merges
  its stored extremum with the gained values and stays exact, because its
  stored extremum survives. The recompute runs at most once per sync: one
  scan of the current snapshot filtered to the recompute set.
- A sync runs no job only to count: the group count comes from the written
  view's parquet footers, and the recompute set from a plain collect of
  the merge's flagged groups.

Sums are maintained in DECIMAL(28,4) (values cast to DECIMAL(18,4) before
the first SUM): decimal add/subtract is exact, so incremental deltas never
drift from the full recompute — float sums would diverge by fold order.

Storage/lifecycle: the view is an artifact-store versioned payload
(``view/`` parquet + ``sync.json`` carrying {table_uuid, version, group_col,
value_col}) kept current by the same lifecycle driver as the band/IVF
indexes (``artifacts.sync``) — atomic CURRENT flip, CAS'd mutating
lifecycle (one sync writer; a lost CAS re-enters), snapshot-keyed rebuilds,
GC grace + reader pins.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from recidiviz_data_spark.operators.base import _qx
from recidiviz_data_spark.session import materialize, materialize_lazily
from recidiviz_data_spark.tables import artifacts

_VAL_T = "decimal(18,4)"   # cast-before-SUM type (repo exactness rule)
_SUM_T = "decimal(28,4)"   # stored running-sum type: exact +/- deltas


def agg_view_path(table, group_col: str, value_col: str) -> str:
    return artifacts.default_path(table, "aggview", group_col, value_col)


def _aggs(df, group_col: str, value_col: str):
    """The view's aggregate shape over a full read — what a rebuild stores
    (Spark plans it with a map-side partial aggregate, so the shuffle
    carries one row per (task, group))."""
    return df.groupBy(group_col).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col(value_col).cast(_VAL_T)).cast(_SUM_T).alias("sum_val"),
        F.min(value_col).alias("min_val"),
        F.max(value_col).alias("max_val"),
    )


def agg_view_read(spark, path: str):
    """Current view: (group, n_rows, sum_val, min_val, max_val, avg_val).
    avg derives at read (sum/count are the maintained state). Accepts a
    resolved payload dir in place of the artifact base (pinned readers)."""
    return _read_payload(spark, path, "view").withColumn(
        "avg_val", F.col("sum_val").cast("double") / F.col("n_rows")
    )


def agg_view_sync(spark, table, path: str | None = None, *,
                  group_col: str, value_col: str,
                  rebuild_changed_fraction: float = 0.5,
                  changes=None, from_version: int | None = None,
                  to_version: int | None = None) -> dict:
    """Advance the materialized aggregate view to the table's current
    version. First call (or spec/table mismatch, or a version the view
    is ahead of, or lost bucket identity) rebuilds from a full scan; after
    that every sync is incremental AND exact — see the module docstring.

    ``changes`` / ``from_version`` / ``to_version``: a ``table_row_images``
    diff holding both columns and the two snapshots it spans, as
    ``index_sync_hook`` shares it between views. It is folded only when it
    spans the view's stored version to the table's current one; otherwise
    the sync diffs the changed buckets itself.

    ``rebuild_changed_fraction``: when MORE than this fraction of buckets
    moved since the last sync, rebuild instead — the diff reads every file
    the changed buckets hold at either version and shuffles those rows by
    key, so past roughly half the table it costs more than the one full
    scan and partial aggregate a rebuild pays (measured with the two-read
    diff: a batch scattered over 60/64 buckets synced 3.4× SLOWER than its
    rebuild — tools/ivm_scale_bench.py). The incremental win lives where
    web-scale CDC lives: batches touching a small fraction of a large
    bucket count.
    Returns {action, version, groups, recomputed_groups}."""
    call = dict(locals())  # every bound argument, for the conflict re-entry
    base = path or agg_view_path(table, group_col, value_col)
    g, v = group_col, value_col
    uid = artifacts.table_uid(table)
    ident = {"table_uuid": uid, "group_col": g, "value_col": v, "kind": "agg"}

    def _write(stage: str, view_df, meta: dict) -> None:
        """A ``meta`` without ``n_groups`` takes it from the view's footers."""
        os.makedirs(stage)
        view_df.write.parquet(os.path.join(stage, "view"))
        if "n_groups" not in meta:
            meta["n_groups"] = _rows_written(os.path.join(stage, "view"))
        artifacts.write_sync_meta(stage, meta)

    def _rebuild(cur_v: int) -> dict:
        view = materialize(_aggs(table.read(spark), g, v))
        n_groups = view.count()
        meta = {**ident, "version": cur_v, "n_groups": n_groups}
        artifacts.ensure(
            base, f"miniberg:{uid}:v{cur_v}:agg:{g}:{v}",
            lambda stage: _write(stage, view, meta),
        )
        return {"action": "rebuild", "version": cur_v, "groups": n_groups,
                "recomputed_groups": 0}

    def _advance(r0, meta, cur_v: int, changes) -> dict:
        if _changed_buckets(table, meta, cur_v, rebuild_changed_fraction) is None:
            return _rebuild(cur_v)
        rows = _signed_rows(spark, table, meta["version"], cur_v, g, v, changes)
        gained, sv = F.col("sign") > 0, F.col(v).cast(_VAL_T).cast(_SUM_T)
        view = _read_state(spark, os.path.join(r0[0], "view"))
        stored = view.select(g, F.col("n_rows").alias("n"), F.col("sum_val").alias("s"),
                             F.col("min_val").alias("s_min"), F.col("max_val").alias("s_max"))
        signed = rows.select(g, F.col("sign").alias("n"),
                             F.when(gained, sv).otherwise(-sv).alias("s"),
                             F.when(gained, F.col(v)).alias("gained"),
                             F.when(~gained, F.col(v)).alias("lost"))
        # the stored rows and the diff's signed rows fold in ONE group-by: a
        # null group is a real group under GROUP BY, as in the view itself
        merged = materialize_lazily(
            stored.unionByName(signed, allowMissingColumns=True).groupBy(g).agg(
                F.sum("n").cast("long").alias("n_rows"),
                F.sum("s").cast(_SUM_T).alias("sum_val"),
                F.least(F.min("s_min"), F.min("gained")).alias("min_val"),
                F.greatest(F.max("s_max"), F.max("gained")).alias("max_val"),
                # a lost value at the stored extremum may have been its last
                # copy
                (F.coalesce(F.min("lost") <= F.min("s_min"), F.lit(False))
                 | F.coalesce(F.max("lost") >= F.max("s_max"), F.lit(False)))
                .alias("_rescan"),
            )
            .filter(F.col("n_rows") > 0)  # emptied groups leave the view
        )
        # the few groups whose stored extremum the diff removed: a filter of
        # the merge, no aggregate
        rescan = [r[0] for r in merged.filter("_rescan").select(g).collect()]
        out = merged
        if rescan:
            hit = F.col(g).isin([x for x in rescan if x is not None])
            if None in rescan:
                hit = hit | F.col(g).isNull()
            rx = (
                table.read(spark, version=cur_v).filter(hit)
                .groupBy(g).agg(F.min(v).alias("r_min"), F.max(v).alias("r_max"))
            )
            # r_min/r_max may be legitimately null when the group's surviving
            # values are all null — pick by _rescan, never by coalesce
            out = (
                merged.alias("m")
                .join(rx.alias("rx"),
                      F.col(f"m.{g}").eqNullSafe(F.col(f"rx.{g}")), "left_outer")
                .select(
                    F.col(f"m.{g}").alias(g), "n_rows", "sum_val",
                    *[F.when(F.col("_rescan"), F.col(f"r_{c}"))
                      .otherwise(F.col(f"{c}_val")).alias(f"{c}_val")
                      for c in ("min", "max")],
                )
            )
        # SUM over no non-null value is NULL, exactly when MIN is
        out = out.select(
            g, "n_rows",
            F.when(F.col("min_val").isNotNull(), F.col("sum_val")).alias("sum_val"),
            "min_val", "max_val",
        )
        new_meta = {**ident, "version": cur_v}
        artifacts.publish(base, artifacts.mutated_key(r0[1]),
                          lambda stage: _write(stage, out, new_meta),
                          expected_seq=r0[2])
        return {"action": "incremental", "version": cur_v,
                "groups": new_meta["n_groups"], "recomputed_groups": len(rescan)}

    return artifacts.sync(
        base, table, ident, rebuild=_rebuild, advance=_advance,
        noop=lambda m: {"groups": m["n_groups"], "recomputed_groups": 0},
        retry=lambda: agg_view_sync(**call),
        changes=changes, span=(from_version, to_version),
    )


def _changed_buckets(table, meta: dict, cur_v: int, fraction: float):
    """Buckets whose files moved since the view's stored version, or None
    when the view should rebuild instead: bucket identity changed, or more
    than ``fraction`` of the buckets moved (one full scan is then cheaper
    than diffing the changed buckets' files by key)."""
    cb = table.changed_buckets(meta["version"], cur_v)
    if cb is None or len(cb) > fraction * table.manifest(cur_v)["num_buckets"]:
        return None
    return cb


def _signed_rows(spark, table, from_v: int, to_v: int, g: str, v: str,
                 changes):
    """The keyed changed-row diff from ``from_v`` to ``to_v`` as a signed
    multiset of (group, value) rows: -1 for each removed pre-image, +1 for
    each added post-image, only for keys whose (group, value) moved.
    ``changes`` (a ``table_row_images`` frame of that span, which
    ``artifacts.sync`` has checked) is folded when it holds both columns;
    otherwise the changed buckets are diffed here."""
    from recidiviz_data_spark.cdc.differ import table_row_images

    if (changes is None
            or not {g, v, f"_o_{g}", f"_o_{v}"} <= set(changes.columns)):
        changes = table_row_images(spark, table, from_v, to_v,
                                   cols=list(dict.fromkeys((g, v))))
    in_old, in_new = F.col("_in_old").isNotNull(), F.col("_in_new").isNotNull()
    moved = (~in_old | ~in_new | ~F.col(g).eqNullSafe(F.col(f"_o_{g}"))
             | ~F.col(v).eqNullSafe(F.col(f"_o_{v}")))
    # one pass over the diff (a union of two filters would read it twice)
    sides = F.array(*[
        F.struct(F.col(gc).alias(g), F.col(vc).alias(v),
                 F.lit(sign).alias("sign"), present.alias("_in"))
        for gc, vc, sign, present in ((f"_o_{g}", f"_o_{v}", -1, in_old),
                                      (g, v, 1, in_new))
    ])
    return (changes.filter(moved).select(F.explode(sides).alias("_r"))
            .select("_r.*").filter("_in").drop("_in"))


def _events_cte() -> str:
    """``WITH ev AS (...)``: every event of the deterministic generated
    changelog ranked newest-first per doc (rn = 1 is the LWW winner) — the
    head of each view demo's DuckDB oracle."""
    from recidiviz_data_spark.operators.cdcops import APPLY_GEN, changelog_dir

    glob_path = os.path.join(
        changelog_dir("apply", APPLY_GEN), "batch_id=*", "part-*.parquet"
    )
    return f"""
    WITH ev AS (
      SELECT doc_id, op, n_tok, source,
             row_number() OVER (PARTITION BY doc_id ORDER BY event_seq DESC) AS rn
      FROM read_parquet('{glob_path}')
    )"""


def _demo_view(spark, name: str, sync, **kw) -> str:
    """Apply the deterministic engine changelog batch-by-batch into the
    shared miniberg table (same workdir as ``cdc_apply_state`` — the
    watermark makes re-application a noop) and ``sync`` the view ``name``
    of n_tok per source after EVERY batch, so its state is reached through
    incremental maintenance, not one final recompute. Returns its path."""
    from recidiviz_data_spark.cdc.apply import apply_batches, create_empty_table
    from recidiviz_data_spark.operators.cdcops import (
        APPLY_GEN,
        _payload_schema,
        _workdir,
        ensure_changelog,
    )
    from recidiviz_data_spark.tables.miniberg import Miniberg

    cl = ensure_changelog("apply", APPLY_GEN)
    wd = _workdir("apply", APPLY_GEN)
    troot = os.path.join(wd, "table")
    if Miniberg.exists(troot):
        table = Miniberg(troot)
    else:
        table = create_empty_table(troot, _payload_schema(), num_buckets=8)
    vpath = os.path.join(wd, name)
    for b in range(APPLY_GEN["n_batches"]):
        apply_batches(spark, table, cl, upto=b)
        # the demo table has 8 buckets and every generated batch touches all
        # of them — disable the changed-fraction rebuild guard so the path
        # under oracle-check is the INCREMENTAL one
        sync(spark, table, vpath, group_col="source", value_col="n_tok",
             rebuild_changed_fraction=1.0, **kw)
    return vpath


def _agg_oracle_sql() -> str:
    """DuckDB oracle: the LWW fold of the deterministic generated changelog,
    aggregated per source with the view's exact column set. Single division
    for avg on both engines (exact-integer operands → bit-identical)."""
    return _events_cte() + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
           MIN(n_tok) AS min_tok,
           MAX(n_tok) AS max_tok,
           CAST(SUM(CAST(n_tok AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_tok
    FROM ev WHERE rn = 1 AND op <> 'D'
    GROUP BY source
    """


@_qx("x_agg_view_sync", _agg_oracle_sql())
def x_agg_view_sync(spark, sf_dir):
    """End-to-end IVM demo on the deterministic engine changelog
    (``_demo_view``): batch-by-batch ``agg_view_sync`` must converge to
    exactly the single-shot SQL LWW fold + GROUP BY."""
    vpath = _demo_view(spark, "aggview_source_ntok", agg_view_sync)
    return agg_view_read(spark, vpath).select(
        "source",
        F.col("n_rows").alias("n_docs"),
        F.col("sum_val").cast("long").alias("total_tokens"),
        F.col("min_val").alias("min_tok"),
        F.col("max_val").alias("max_tok"),
        F.col("avg_val").alias("avg_tok"),
    )


# --------------------------------------------------------------------------
# COUNT(DISTINCT) views — the other non-self-maintainable aggregate, made
# exactly incremental with the classic SUPPORT MULTISET: persist per
# (group, value) multiplicities; distinct-count = live support rows per
# group. Every delta is additive at the (group, value) grain, so inserts,
# updates AND deletes maintain exactly — no recompute scan exists in this
# lifecycle at all (unlike min/max). The support table is the honest cost:
# one row per live (group, value) pair.
#
# At-scale layout: support is hash-partitioned on the group key
# (``part = pmod(xxhash64(g), DISTINCT_SUPPORT_PARTS)``); a sync rewrites
# ONLY the partitions holding changed groups and hardlink-carries the rest
# from the previous version — write cost scales with the batch's group
# footprint, not the support size. The per-group summary (``view/``) is
# maintained incrementally too: +groups whose value appeared, −values that
# dropped to multiplicity 0 (computed from the same merge, before dead
# support rows are filtered).
#
# SQL semantics: COUNT(DISTINCT x) ignores NULL values — null values never
# enter the support; a NULL GROUP is still a real group (null-safe joins,
# as in agg_view_sync).

DISTINCT_SUPPORT_PARTS = 32


def _part_of(g):
    return F.pmod(F.xxhash64(F.col(g)), F.lit(DISTINCT_SUPPORT_PARTS)).cast("int")


def distinct_view_path(table, group_col: str, value_col: str) -> str:
    return artifacts.default_path(table, "distview", group_col, value_col)


def distinct_view_read(spark, path: str):
    """Current summary: (group, n_distinct). Accepts a resolved payload dir
    (pinned readers) in place of the artifact base."""
    return _read_payload(spark, path, "view")


def distinct_view_support(spark, path: str):
    """The support multiset: (group, value, cnt, part) — one row per live
    (group, value) pair with its multiplicity."""
    return _read_payload(spark, path, "support")


def _support_of(df, g: str, v: str):
    return (
        df.filter(F.col(v).isNotNull())  # COUNT(DISTINCT) ignores nulls
        .groupBy(g, v)
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("part", _part_of(g))
    )


def _write_partitioned(df, out: str, part_col: str = "part") -> None:
    """partitionBy-append, plus the empty-table edge: a partitioned write of
    ZERO rows leaves no parquet at all (schema inference on the next read
    would fail), so an emptied table lands as one zero-row unpartitioned
    file that still carries the full schema."""
    df.write.mode("append").partitionBy(part_col).parquet(out)
    if not _parquet_files(out):
        df.limit(0).write.mode("overwrite").parquet(out)


def _parquet_files(out: str) -> list[str]:
    return sorted(os.path.join(r, f) for r, _d, fs in os.walk(out)
                  for f in fs if f.endswith(".parquet"))


def _carry_parts(src: str, dst: str, rewritten) -> None:
    """Hardlink-carry the partition dirs (``<col>=<k>``) of ``src`` whose k
    is not ``rewritten`` into ``dst``; the caller writes the rest."""
    os.makedirs(dst, exist_ok=True)
    for d in os.listdir(src):
        full = os.path.join(src, d)  # skips files: parquet _SUCCESS etc.
        if os.path.isdir(full) and int(d.split("=", 1)[1]) not in rewritten:
            artifacts.link_tree(full, os.path.join(dst, d))


def _read_payload(spark, path: str, sub: str):
    """``sub`` of the view's current payload; ``path`` may also be a
    resolved payload dir (pinned readers)."""
    r = artifacts.resolve(path)
    return _read_state(spark, os.path.join(r[0] if r is not None else path, sub))


def _read_state(spark, out: str):
    """A stored parquet directory read with the schema of one footer (plus
    its int partition column) — Spark's own inference runs a job per read."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import IntegerType

    first = _parquet_files(out)[0]
    schema = from_arrow_schema(pq.ParquetFile(first).schema_arrow,
                               prefer_timestamp_ntz=True)
    part = os.path.relpath(os.path.dirname(first), out)
    if part != ".":
        schema = schema.add(part.split("=", 1)[0], IntegerType())
    return spark.read.schema(schema).parquet(out)


def _rows_written(out: str) -> int:
    """Row count of a parquet directory, from its footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(out))


def distinct_view_sync(spark, table, path: str | None = None, *,
                       group_col: str, value_col: str,
                       rebuild_changed_fraction: float = 0.5,
                       changes=None, from_version: int | None = None,
                       to_version: int | None = None) -> dict:
    """Advance the COUNT(DISTINCT value_col) view per group_col to the
    table's current version. Fully incremental and exact under I/U/D — the
    changed-row diff's signed rows merge into the support at the (group,
    value) grain; only support partitions holding changed groups are
    rewritten (the rest hardlink-carry). ``changes`` / ``from_version`` /
    ``to_version`` and ``rebuild_changed_fraction``: as in
    ``agg_view_sync``. Returns {action,
    version, groups, changed_parts}."""
    call = dict(locals())  # every bound argument, for the conflict re-entry
    base = path or distinct_view_path(table, group_col, value_col)
    g, v = group_col, value_col
    uid = artifacts.table_uid(table)
    ident = {"table_uuid": uid, "group_col": g, "value_col": v,
             "kind": "distinct"}

    def _rebuild(cur_v: int) -> dict:
        sup = materialize(_support_of(table.read(spark), g, v))
        summary = materialize(
            sup.groupBy(g).agg(F.count("*").cast("long").alias("n_distinct"))
        )
        n_groups = summary.count()

        def _build(stage: str) -> None:
            os.makedirs(stage)
            _write_partitioned(sup, os.path.join(stage, "support"))
            summary.write.parquet(os.path.join(stage, "view"))
            artifacts.write_sync_meta(
                stage, {**ident, "version": cur_v, "n_groups": n_groups})

        artifacts.ensure(
            base, f"miniberg:{uid}:v{cur_v}:distinct:{g}:{v}", _build
        )
        return {"action": "rebuild", "version": cur_v, "groups": n_groups,
                "changed_parts": DISTINCT_SUPPORT_PARTS}

    def _advance(r0, meta, cur_v: int, changes) -> dict:
        if _changed_buckets(table, meta, cur_v, rebuild_changed_fraction) is None:
            return _rebuild(cur_v)
        payload = r0[0]
        # delta multiset at the (group, value) grain: the diff's signed rows
        delta = materialize_lazily(
            _signed_rows(spark, table, meta["version"], cur_v, g, v, changes)
            .filter(F.col(v).isNotNull())  # COUNT(DISTINCT) ignores nulls
            .groupBy(g, v)
            .agg(F.sum("sign").cast("long").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .withColumn("part", _part_of(g))
        )
        changed_parts = sorted({r["part"] for r in delta.select("part").collect()})
        if not changed_parts:  # file sets moved (compaction) but values didn't
            n_groups = meta["n_groups"]

            def _carry(stage: str) -> None:
                os.makedirs(stage)
                artifacts.link_tree(os.path.join(payload, "support"),
                                    os.path.join(stage, "support"))
                artifacts.link_tree(os.path.join(payload, "view"),
                                    os.path.join(stage, "view"))
                artifacts.write_sync_meta(
                    stage, {**ident, "version": cur_v, "n_groups": n_groups})

            artifacts.publish(base, artifacts.mutated_key(r0[1]), _carry,
                              expected_seq=r0[2])
            return {"action": "incremental", "version": cur_v,
                    "groups": n_groups, "changed_parts": 0}

        # merge the delta into ONLY the touched support partitions
        # (partition pruning on part)
        old_sup = _read_state(spark, os.path.join(payload, "support")).filter(
            F.col("part").isin(changed_parts)
        )
        new_support = materialize_lazily(
            old_sup.select(g, v, "cnt", "part").unionByName(delta)
            .groupBy(g, v, "part").agg(F.sum("cnt").cast("long").alias("cnt"))
            .filter(F.col("cnt") > 0)
            .select(g, v, "cnt", "part")
        )
        n_groups = None
        # a group's whole support lives in its own part, so the rewritten
        # parts' summary rows are recounted from their new support, and
        # every other summary row carries over
        old_view = _read_state(spark, os.path.join(payload, "view"))
        new_view = old_view.filter(~_part_of(g).isin(changed_parts)).unionByName(
            new_support.groupBy(g).agg(F.count("*").cast("long").alias("n_distinct"))
        )

        def _build(stage: str) -> None:
            nonlocal n_groups
            _carry_parts(os.path.join(payload, "support"),
                         os.path.join(stage, "support"), changed_parts)
            _write_partitioned(new_support, os.path.join(stage, "support"))
            new_view.write.parquet(os.path.join(stage, "view"))
            n_groups = _rows_written(os.path.join(stage, "view"))
            artifacts.write_sync_meta(
                stage, {**ident, "version": cur_v, "n_groups": n_groups})

        artifacts.publish(base, artifacts.mutated_key(r0[1]), _build,
                          expected_seq=r0[2])
        return {"action": "incremental", "version": cur_v, "groups": n_groups,
                "changed_parts": len(changed_parts)}

    return artifacts.sync(
        base, table, ident, rebuild=_rebuild, advance=_advance,
        noop=lambda m: {"groups": m["n_groups"], "changed_parts": 0},
        retry=lambda: distinct_view_sync(**call),
        changes=changes, span=(from_version, to_version),
    )


def _distinct_oracle_sql() -> str:
    return _events_cte() + """
    SELECT source, CAST(COUNT(DISTINCT n_tok) AS BIGINT) AS n_distinct
    FROM ev WHERE rn = 1 AND op <> 'D'
    GROUP BY source
    """


@_qx("x_distinct_view_sync", _distinct_oracle_sql())
def x_distinct_view_sync(spark, sf_dir):
    """COUNT(DISTINCT) IVM demo on the deterministic engine changelog:
    batch-by-batch `distinct_view_sync` must converge to the single-shot
    DuckDB fold's per-source distinct n_tok count."""
    vpath = _demo_view(spark, "distview_source_ntok", distinct_view_sync)
    return distinct_view_read(spark, vpath).select("source", "n_distinct")


# --------------------------------------------------------------------------
# TOP-K per group — the order-statistics member of the IVM family (additive:
# count/sum; extrema: min/max; multiset: COUNT DISTINCT; order: top-k).
# A materialized "top k rows by value per group" (the w1_topk_per_group
# shape) maintained from the change feed.
#
# A partial tree does the heavy lifting: per (group, BUCKET) the top-k rows
# are persisted (at most k rows per group per bucket, partitioned by bucket,
# hardlink-carried like the distinct support). The global top-k per group
# is always a subset of the union of its per-bucket top-k (any row beating
# a global top-k row beats its bucket's k-th row too), so a sync only has
# to (a) recompute partials for the CHANGED buckets from the read it
# already holds, and (b) re-fold the view rows of groups whose
# changed-bucket partials differ — a delete of a top-k member refills from
# the carried partials of untouched buckets, never from the data table.
# Fully bucket-bounded, exact, no recompute scan.
#
# Ordering is (value DESC, key ASC) — the total-order tiebreak every
# ranked view needs for determinism. NULL values are excluded (their rank
# order is engine-dependent; SQL consumers filter them before ranking).

def topk_view_path(table, group_col: str, value_col: str, k: int) -> str:
    return artifacts.default_path(table, "topkview", group_col, value_col, k)


def topk_view_read(spark, path: str):
    """Current view: (group, rnk, <key>, <value>) — k rows per group."""
    return _read_payload(spark, path, "view")


def _topk_fold(partials, g: str, key: str, v: str, k: int):
    """Global top-k per group from per-bucket partial rows."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(g).orderBy(F.col(v).desc(), F.col(key).asc())
    return (
        partials.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(g, "rnk", key, v)
    )


def topk_view_sync(spark, table, path: str | None = None, *,
                   group_col: str, value_col: str, k: int = 3,
                   rebuild_changed_fraction: float = 0.5) -> dict:
    """Advance the materialized top-k view to the table's current version.
    Incremental syncs are bucket-bounded: changed buckets' partials
    recompute from the changed-bucket read, untouched partials hardlink-
    carry, and only groups whose changed-bucket partials DIFFER re-fold
    their view rows (from the partial table, never the data table).
    Returns {action, version, groups, refolded_groups}."""
    call = dict(locals())  # every bound argument, for the conflict re-entry
    from pyspark.sql.window import Window

    base = path or topk_view_path(table, group_col, value_col, k)
    g, v = group_col, value_col
    uid = artifacts.table_uid(table)
    ident = {"table_uuid": uid, "group_col": g, "value_col": v, "k": k,
             "kind": "topk"}
    key = table.manifest()["key_col"]

    def _partials_of(df):
        wb = Window.partitionBy(g, "bucket").orderBy(
            F.col(v).desc(), F.col(key).asc()
        )
        return (
            df.filter(F.col(v).isNotNull())
            .withColumn("bucket", table.bucket_col())
            .withColumn("_r", F.row_number().over(wb))
            .filter(F.col("_r") <= k)
            .select(g, key, v, "bucket")
        )

    def _write(stage: str, view_df, meta: dict, partials,
               carry_from: str | None = None, cb=()) -> None:
        os.makedirs(stage)
        view_df.write.parquet(os.path.join(stage, "view"))
        if carry_from is not None:
            _carry_parts(os.path.join(carry_from, "parts"),
                         os.path.join(stage, "parts"), cb)
        _write_partitioned(partials, os.path.join(stage, "parts"), "bucket")
        artifacts.write_sync_meta(stage, meta)

    def _rebuild(cur_v: int) -> dict:
        partials = materialize(_partials_of(table.read(spark)))
        view = materialize(_topk_fold(partials, g, key, v, k))
        n_groups = view.select(g).distinct().count()
        meta = {**ident, "version": cur_v, "n_groups": n_groups}
        artifacts.ensure(
            base, f"miniberg:{uid}:v{cur_v}:topk:{g}:{v}:{k}",
            lambda stage: _write(stage, view, meta, partials),
        )
        return {"action": "rebuild", "version": cur_v, "groups": n_groups,
                "refolded_groups": 0}

    def _advance(r0, meta, cur_v: int, _changes) -> dict:
        cb = _changed_buckets(table, meta, cur_v, rebuild_changed_fraction)
        if cb is None:
            return _rebuild(cur_v)
        payload = r0[0]
        new_partials = materialize(_partials_of(
            table.read(spark, version=cur_v, buckets=cb).select(key, g, v)
        ))
        old_partials = _read_state(spark, os.path.join(payload, "parts"))
        old_cb = old_partials.filter(F.col("bucket").isin(cb))
        # groups whose changed-bucket partials DIFFER: only these can have a
        # different global top-k (rows outside the bucket top-k can't
        # displace view rows — they don't even displace their bucket's k-th
        # row)
        cols = [g, key, v, "bucket"]
        diff_g = (
            old_cb.select(*cols).exceptAll(new_partials.select(*cols))
            .unionByName(new_partials.select(*cols).exceptAll(old_cb.select(*cols)))
            .select(g).distinct()
        )
        n_ref = diff_g.count()
        old_view = _read_state(spark, os.path.join(payload, "view"))
        if n_ref == 0:
            out = old_view
        else:
            all_partials = old_partials.filter(
                ~F.col("bucket").isin(cb)
            ).unionByName(new_partials)
            refolded = _topk_fold(
                all_partials.alias("p").join(
                    diff_g.alias("d"),
                    F.col(f"p.{g}").eqNullSafe(F.col(f"d.{g}")), "left_semi"),
                g, key, v, k,
            )
            kept = old_view.alias("o").join(
                diff_g.alias("d"),
                F.col(f"o.{g}").eqNullSafe(F.col(f"d.{g}")), "left_anti")
            out = kept.unionByName(refolded)
        out = materialize(out)
        n_groups = out.select(g).distinct().count()
        new_meta = {**ident, "version": cur_v, "n_groups": n_groups}
        artifacts.publish(
            base, artifacts.mutated_key(r0[1]),
            lambda stage: _write(stage, out, new_meta, new_partials,
                                 carry_from=payload, cb=cb),
            expected_seq=r0[2])
        return {"action": "incremental", "version": cur_v, "groups": n_groups,
                "refolded_groups": n_ref}

    return artifacts.sync(
        base, table, ident, rebuild=_rebuild, advance=_advance,
        noop=lambda m: {"groups": m["n_groups"], "refolded_groups": 0},
        retry=lambda: topk_view_sync(**call),
    )


def _topk_oracle_sql() -> str:
    return _events_cte() + """,
    live AS (SELECT doc_id, source, n_tok FROM ev
             WHERE rn = 1 AND op <> 'D' AND n_tok IS NOT NULL)
    SELECT source, rnk, doc_id, n_tok FROM (
      SELECT source, doc_id, n_tok,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_tok DESC, doc_id) AS rnk
      FROM live)
    WHERE rnk <= 3
    """


@_qx("x_topk_view_sync", _topk_oracle_sql())
def x_topk_view_sync(spark, sf_dir):
    """Top-k IVM demo on the deterministic engine changelog: batch-by-batch
    `topk_view_sync` must converge to the single-shot ranked fold (top-3
    docs per source by n_tok, doc_id tiebreak)."""
    vpath = _demo_view(spark, "topkview_source_ntok", topk_view_sync, k=3)
    return topk_view_read(spark, vpath).select(
        "source", "rnk", "doc_id", F.col("n_tok"))

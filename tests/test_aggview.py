"""Incremental view syncs (operators/aggview.py): the agg, distinct and
top-k views. Randomized equivalence with a fresh rebuild, the
rescan-only-on-lost-extremum rule, scripted I/U/D cases per view kind,
partition carry, null groups, the fraction guard, the conflict re-entry,
the streamed ``index_sync_hook`` tie-in and the Spark-job budget of one
incremental hook call."""

import os
import random
import time

from pyspark.sql import functions as F

EV = ("event_seq long, op string, doc_id string, tokens array<int>, "
      "n_tok int, source string, val int")
GROUPS = ["a", "b", "c", None]
KW = dict(group_col="source", value_col="val", rebuild_changed_fraction=1.0)


def _table(spark, path, rows, buckets):
    from recidiviz_data_spark.cdc.apply import bootstrap_table

    df = spark.createDataFrame(
        [(k, [1], 1, g, v) for k, (g, v) in sorted(rows.items())],
        "doc_id string, tokens array<int>, n_tok int, source string, val int")
    return bootstrap_table(spark, path, df, num_buckets=buckets)


def _av_state(n):
    """``n`` docs over five groups s0..s4, val = (i * 7) % 100."""
    return {f"doc_{i:03d}": (f"s{i % 5}", (i * 7) % 100) for i in range(n)}


def _apply(spark, table, state, events, batch_id):
    """Apply (op, key, group, value) events and mirror them into ``state``.
    Event seqs grow with ``batch_id``, so no event is stale against a row an
    earlier batch wrote (a stale event would leave ``state`` ahead of the
    table)."""
    from recidiviz_data_spark.cdc.apply import apply_batch

    rows = []
    for i, (op, k, g, v) in enumerate(events):
        seq = batch_id * 1000 + i + 1
        if op == "D":
            rows.append((seq, "D", k, None, None, None, None))
            state.pop(k)
        else:
            rows.append((seq, op, k, [1], 1, g, v))
            state[k] = (g, v)
    apply_batch(spark, table, spark.createDataFrame(rows, EV), batch_id,
                compact=False)


def _agg_rows(df):
    return {tuple(r) for r in df.select(
        "source", "n_rows", "sum_val", "min_val", "max_val").collect()}


def _agg_view(spark, path):
    from recidiviz_data_spark.operators.aggview import agg_view_read

    return _agg_rows(agg_view_read(spark, path))


def _agg_full(spark, table):
    """What an agg view rebuild stores for the current snapshot."""
    from recidiviz_data_spark.operators.aggview import _aggs

    return _agg_rows(_aggs(table.read(spark), "source", "val"))


def _distinct_view(spark, path):
    """(summary, support multiset) of a distinct view."""
    from recidiviz_data_spark.operators.aggview import (
        distinct_view_read,
        distinct_view_support,
    )

    return (
        {tuple(r) for r in distinct_view_read(spark, path).collect()},
        {tuple(r) for r in distinct_view_support(spark, path)
         .select("source", "val", "cnt").collect()},
    )


def _rebuilt(spark, table):
    """What a rebuild computes: the agg view and the distinct (summary,
    support) pair over the current snapshot."""
    from recidiviz_data_spark.operators.aggview import _aggs

    live = table.read(spark)
    support = {tuple(r) for r in live.filter("val IS NOT NULL")
               .groupBy("source", "val").agg(F.count("*").cast("long")).collect()}
    # a group whose values are all NULL has no support row, so no summary row
    n_distinct = {}
    for g, _v, _n in support:
        n_distinct[g] = n_distinct.get(g, 0) + 1
    return (_agg_rows(_aggs(live, "source", "val")),
            (set(n_distinct.items()), support))


def _topk_full(spark, table, k=3):
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.col("val").desc(), F.col("doc_id"))
    return {
        tuple(r) for r in table.read(spark).filter("val IS NOT NULL")
        .withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
        .select("source", "rnk", "doc_id", "val").collect()
    }


def _carried(old_payload, new_payload, sub):
    """Whether the newer payload hardlink-carried a partition dir of ``sub``
    from the older one (same parquet file names, same inode)."""
    for d in sorted(os.listdir(os.path.join(old_payload, sub))):
        a, b = (os.path.join(p, sub, d) for p in (old_payload, new_payload))
        if os.path.isdir(a) and os.path.isdir(b):
            fa = sorted(f for f in os.listdir(a) if f.endswith(".parquet"))
            fb = sorted(f for f in os.listdir(b) if f.endswith(".parquet"))
            if fa and fa == fb and os.stat(os.path.join(a, fa[0])).st_ino == \
                    os.stat(os.path.join(b, fb[0])).st_ino:
                return True
    return False


def _extremum_key(state, group, pick):
    vals = [(v, k) for k, (g, v) in sorted(state.items())
            if g == group and v is not None]
    return pick(vals)[1]


def test_view_syncs_equal_rebuild_under_random_iud(spark, tmp_path, monkeypatch):
    """Random I/U/D batches — group moves, a NULL group and NULL values,
    deletes and updates of the current min/max, a group emptied out, and a
    compaction-only commit — through the agg and the distinct view. Every
    sync takes the incremental path and equals a fresh rebuild; the views
    ``index_sync_hook`` advances through its shared diff equal the same
    syncs called one by one."""
    from recidiviz_data_spark.cdc import differ
    from recidiviz_data_spark.operators.aggview import (
        agg_view_sync,
        distinct_view_sync,
    )
    from recidiviz_data_spark.streaming.microbatch import index_sync_hook
    from recidiviz_data_spark.tables.maintenance import compact

    diffs = []
    raw_diff = differ.table_row_images

    def counting_diff(*a, **kw):
        diffs.append(kw["cols"])
        return raw_diff(*a, **kw)

    monkeypatch.setattr(differ, "table_row_images", counting_diff)
    rng = random.Random(20261017)

    def rand_row():
        return (rng.choice(GROUPS),
                None if rng.random() < 0.15 else rng.randrange(-4, 12))

    state = {f"doc_{i:03d}": rand_row() for i in range(48)}
    table = _table(spark, str(tmp_path / "t"), state, buckets=6)
    paths = {n: str(tmp_path / n) for n in ("scan", "distinct")}
    hooked = {n: str(tmp_path / f"hook_{n}") for n in ("scan", "distinct")}

    def sync_all():
        return [
            agg_view_sync(spark, table, paths["scan"], **KW),
            distinct_view_sync(spark, table, paths["distinct"], **KW),
        ]

    results: list[dict] = []
    hook = index_sync_hook(
        spark, agg_views=[(hooked["scan"], "source", "val")],
        distinct_views=[(hooked["distinct"], "source", "val")],
        view_sync_kw={"rebuild_changed_fraction": 1.0}, results=results)
    assert all(r["action"] == "rebuild" for r in sync_all())
    hook(table, -1)

    next_key = iter(range(500, 10_000))

    def random_batch(n):
        live, events = sorted(state), []
        for k in rng.sample(live, n // 2):
            events.append(("D", k, None, None) if rng.random() < 0.3
                          else ("U", k, *rand_row()))
        events += [("I", f"doc_{next(next_key)}", *rand_row())
                   for _ in range(n - n // 2)]
        return events

    def scripted(i):
        if i == 1:  # delete the max and update the min of group "a"
            return [("D", _extremum_key(state, "a", max), None, None),
                    ("U", _extremum_key(state, "a", min), "a", 5)]
        if i == 2:  # move rows between groups, into and out of the NULL group
            a, b = [k for k, (g, _v) in sorted(state.items()) if g == "b"][:2]
            n = next(k for k, (g, _v) in sorted(state.items()) if g is None)
            return [("U", a, None, 99), ("U", b, "c", None), ("U", n, "a", -9)]
        if i == 3:  # empty group "c" out, max of the NULL group goes too
            gone = [k for k, (g, _v) in sorted(state.items()) if g == "c"]
            gone.append(_extremum_key(state, None, max))
            return [("D", k, None, None) for k in gone]
        if i == 4:  # a new group whose only values are NULL
            return [("I", f"doc_{next(next_key)}", "z", None)]
        return random_batch(8)

    for i in range(8):
        if i == 5:
            assert compact(spark, table, min_files=1) is not None  # no row moves
        else:
            _apply(spark, table, state, scripted(i), i)
        res = sync_all()
        assert [r["action"] for r in res] == ["incremental"] * 2, (i, res)
        diffs.clear()
        hook(table, i)
        assert [r["action"] for r in results[-2:]] == ["incremental"] * 2
        assert len(diffs) == 1  # both views folded the hook's one diff
        agg, distinct = _rebuilt(spark, table)
        assert _agg_view(spark, paths["scan"]) == agg, i
        assert _distinct_view(spark, paths["distinct"]) == distinct, i
        assert _agg_view(spark, hooked["scan"]) == agg, i
        assert _distinct_view(spark, hooked["distinct"]) == distinct, i
        if i == 3:
            assert not any(r[0] == "c" for r in agg)
        if i == 4:
            assert ("z", 1, None, None, None) in agg


def test_extremum_rescan_only_when_lost(spark, tmp_path, monkeypatch):
    """Deleting a non-extremum row recomputes no group and reads only the
    changed buckets; deleting a group's max recomputes exactly that
    group."""
    from recidiviz_data_spark.operators.aggview import agg_view_sync

    state = {f"doc_{i:03d}": (f"g{i % 4}", i) for i in range(40)}
    table = _table(spark, str(tmp_path / "t"), state, buckets=8)
    path = str(tmp_path / "v")
    agg_view_sync(spark, table, path, **KW)

    reads: list = []

    def recording(raw):
        def read(spark_, *a, **kw):
            reads.append(kw.get("buckets"))
            return raw(spark_, *a, **kw)
        return read

    # g1 holds 1, 5, ..., 37: 17 is neither its min nor its max
    _apply(spark, table, state, [("D", "doc_017", None, None)], 0)
    # the diff reads through row_images, the min/max rescan through read
    for name in ("read", "row_images"):
        monkeypatch.setattr(table, name, recording(getattr(table, name)))
    res = agg_view_sync(spark, table, path, **KW)
    assert res["action"] == "incremental" and res["recomputed_groups"] == 0
    assert reads and all(b is not None for b in reads)

    _apply(spark, table, state, [("D", "doc_037", None, None)], 1)  # g1's max
    res = agg_view_sync(spark, table, path, **KW)
    assert res["action"] == "incremental" and res["recomputed_groups"] == 1
    assert ("g1", 8, 1, 33) in {
        (r[0], r[1], r[3], r[4]) for r in _agg_view(spark, path)}


def test_view_sync_ignores_a_diff_of_another_span(spark, tmp_path):
    """A shared diff that ends before the table's current version (a commit
    landed after it was built) is not folded: the sync diffs for itself."""
    from recidiviz_data_spark.cdc.differ import table_row_images
    from recidiviz_data_spark.operators.aggview import agg_view_sync

    state = {f"doc_{i:03d}": (f"g{i % 3}", i) for i in range(24)}
    table = _table(spark, str(tmp_path / "t"), state, buckets=4)
    path = str(tmp_path / "v")
    agg_view_sync(spark, table, path, **KW)
    v0 = table.current_version()
    _apply(spark, table, state, [("U", "doc_001", "g0", 500)], 0)
    v1 = table.current_version()
    stale = table_row_images(spark, table, v0, v1, cols=["source", "val"])
    _apply(spark, table, state, [("D", "doc_004", None, None)], 1)
    res = agg_view_sync(spark, table, path, changes=stale, from_version=v0,
                        to_version=v1, **KW)
    assert res["action"] == "incremental"
    assert _agg_view(spark, path) == _agg_full(spark, table)


def test_distinct_view_of_the_key_column(spark, tmp_path):
    """A view may count the table key itself (distinct doc_ids per group):
    the diff then carries the key as a value column too."""
    from recidiviz_data_spark.operators.aggview import (
        distinct_view_read,
        distinct_view_sync,
    )

    state = {f"doc_{i:03d}": (f"g{i % 3}", i) for i in range(24)}
    table = _table(spark, str(tmp_path / "t"), state, buckets=4)
    path, kw = str(tmp_path / "v"), dict(KW, value_col="doc_id")
    distinct_view_sync(spark, table, path, **kw)
    _apply(spark, table, state, [("U", "doc_001", "g0", 1),
                                 ("D", "doc_002", None, None),
                                 ("I", "doc_900", "g2", 7)], 0)
    assert distinct_view_sync(spark, table, path, **kw)["action"] == "incremental"
    assert {tuple(r) for r in distinct_view_read(spark, path).collect()} == {
        ("g0", 9), ("g1", 7), ("g2", 8)}


# Spark jobs one incremental hook call, and one standalone incremental
# distinct sync, run below (measured at local[8]; the per-view diff design
# ran 43 at local[4], the two-read diff with count round trips 23 and 14)
HOOK_JOB_BUDGET = 10
DISTINCT_SYNC_JOB_BUDGET = 7


def _jobs_of(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_hook_spark_job_budget(spark, tmp_path):
    """One incremental ``index_sync_hook`` call advancing an agg and a
    distinct view over a small multi-bucket table, and one standalone
    ``distinct_view_sync`` over the same batch, each run at most the
    measured number of Spark jobs."""
    from recidiviz_data_spark.operators.aggview import distinct_view_sync
    from recidiviz_data_spark.streaming.microbatch import index_sync_hook

    state = {f"doc_{i:03d}": (f"g{i % 3}", i % 17) for i in range(64)}
    table = _table(spark, str(tmp_path / "t"), state, buckets=16)
    results: list[dict] = []
    hook = index_sync_hook(
        spark, agg_views=[(str(tmp_path / "a"), "source", "val")],
        distinct_views=[(str(tmp_path / "d"), "source", "val")],
        results=results)
    hook(table, -1)
    alone = dict(group_col="source", value_col="val")
    distinct_view_sync(spark, table, str(tmp_path / "sd"), **alone)
    _apply(spark, table, state,
           [("U", "doc_001", "g2", 40), ("D", "doc_010", None, None),
            ("I", "doc_900", "g0", 3)], 0)
    n_jobs = _jobs_of(spark, "view_hook_budget", lambda: hook(table, 0))
    assert [r["action"] for r in results[-2:]] == ["incremental"] * 2
    assert n_jobs <= HOOK_JOB_BUDGET, n_jobs
    res = []
    n_jobs = _jobs_of(spark, "distinct_sync_budget", lambda: res.append(
        distinct_view_sync(spark, table, str(tmp_path / "sd"), **alone)))
    assert res[0]["action"] == "incremental"
    assert n_jobs <= DISTINCT_SYNC_JOB_BUDGET, n_jobs


def test_agg_view_sync_exact_across_iud(spark, tmp_path):
    """Every sync — insert-only, update-heavy, delete-of-extremum, group
    emptied — leaves the view byte-equal to a full recompute; insert-only
    batches skip the min/max recompute scan entirely."""
    from recidiviz_data_spark.operators.aggview import agg_view_sync

    state = _av_state(60)
    table = _table(spark, str(tmp_path / "t_av"), state, buckets=8)
    path = str(tmp_path / "av")
    res = agg_view_sync(spark, table, path, group_col="source", value_col="val")
    assert res["action"] == "rebuild" and res["groups"] == 5
    assert _agg_view(spark, path) == _agg_full(spark, table)
    assert agg_view_sync(spark, table, path, group_col="source",
                         value_col="val")["action"] == "noop"

    # insert-only: monotone merge, NO recompute scan
    _apply(spark, table, state, [("I", "doc_900", "s0", 999),
                                 ("I", "doc_901", "s9", -5)], 0)
    res = agg_view_sync(spark, table, path, group_col="source", value_col="val")
    assert res["action"] == "incremental" and res["recomputed_groups"] == 0
    assert res["groups"] == 6  # new group s9
    assert _agg_view(spark, path) == _agg_full(spark, table)

    # delete the max of s0 (doc_900, 999) + update another doc's value:
    # affected groups get the exact recompute, others don't
    _apply(spark, table, state, [("D", "doc_900", None, None),
                                 ("U", "doc_000", "s0", -777)], 1)
    res = agg_view_sync(spark, table, path, group_col="source", value_col="val")
    assert res["action"] == "incremental" and res["recomputed_groups"] >= 1
    got = _agg_view(spark, path)
    assert got == _agg_full(spark, table)
    # s0: 12 original docs, doc_900 inserted then deleted, doc_000's val
    # 0 -> -777 (the group min), max recomputed over the survivors
    assert ("s0", 12, sum((i * 7) % 100 for i in range(0, 60, 5)) - 0 + (-777),
            -777, max((i * 7) % 100 for i in range(5, 60, 5))) in got

    # empty a whole group: s9 leaves the view
    _apply(spark, table, state, [("D", "doc_901", None, None)], 2)
    agg_view_sync(spark, table, path, group_col="source", value_col="val")
    got = _agg_view(spark, path)
    assert got == _agg_full(spark, table)
    assert not any(r[0] == "s9" for r in got)


def test_agg_view_spec_change_and_version_regression_rebuild(spark, tmp_path):
    """A different (group_col, value_col) spec rebuilds instead of merging
    mismatched state. (A view ahead of its table: the two tests below.)"""
    from recidiviz_data_spark.operators.aggview import agg_view_sync

    table = _table(spark, str(tmp_path / "t_av"), _av_state(20), buckets=2)
    path = str(tmp_path / "av2")
    agg_view_sync(spark, table, path, group_col="source", value_col="val")
    res = agg_view_sync(spark, table, path, group_col="source", value_col="n_tok")
    assert res["action"] == "rebuild"
    view = _agg_view(spark, path)  # now the n_tok view
    assert all(r[2] == r[1] * 1.0 for r in view)  # n_tok==1 per doc: sum==n


def test_agg_view_ahead_of_the_table_rebuilds(spark, tmp_path):
    """A view synced past the table's current version rebuilds: the table
    opened here is a copy taken before its last commit, so its uuid matches
    the view's record and its version is lower. The rebuild equals a fresh
    one."""
    import shutil

    from recidiviz_data_spark.operators.aggview import agg_view_sync
    from recidiviz_data_spark.tables.miniberg import Miniberg

    state = _av_state(20)
    root, copy = str(tmp_path / "t_av"), str(tmp_path / "t_av_before")
    table = _table(spark, root, state, buckets=2)
    path = str(tmp_path / "av")
    assert agg_view_sync(spark, table, path, **KW)["action"] == "rebuild"
    shutil.copytree(root, copy)
    _apply(spark, table, state, [("U", "doc_003", "s1", 500),
                                 ("D", "doc_004", None, None),
                                 ("I", "doc_900", "s9", 5)], 0)
    assert agg_view_sync(spark, table, path, **KW)["action"] == "incremental"

    before = Miniberg(copy)
    assert before.manifest()["table_uuid"] == table.manifest()["table_uuid"]
    assert before.current_version() < table.current_version()
    res = agg_view_sync(spark, before, path, **KW)
    assert res["action"] == "rebuild" and res["version"] == before.current_version()
    fresh = str(tmp_path / "av_fresh")
    assert agg_view_sync(spark, before, fresh, **KW)["action"] == "rebuild"
    assert _agg_view(spark, path) == _agg_view(spark, fresh) == _agg_full(spark, before)


def test_agg_view_sync_after_rollback_equals_rebuild(spark, tmp_path):
    """``Miniberg.rollback`` commits the restored snapshot as a new, higher
    version, so a view synced past the rolled-back commit advances to the
    restored contents (no rebuild) and equals a fresh rebuild."""
    from recidiviz_data_spark.operators.aggview import agg_view_sync

    state = _av_state(20)
    table = _table(spark, str(tmp_path / "t_av"), state, buckets=2)
    v0 = table.current_version()
    path = str(tmp_path / "av")
    assert agg_view_sync(spark, table, path, **KW)["action"] == "rebuild"
    restored = _agg_view(spark, path)
    _apply(spark, table, state, [("U", "doc_003", "s1", 500),
                                 ("D", "doc_004", None, None),
                                 ("I", "doc_900", "s9", 5)], 0)
    assert agg_view_sync(spark, table, path, **KW)["action"] == "incremental"
    assert _agg_view(spark, path) != restored

    v2 = table.rollback(v0)
    res = agg_view_sync(spark, table, path, **KW)
    assert res["action"] == "incremental" and res["version"] == v2
    fresh = str(tmp_path / "av_fresh")
    assert agg_view_sync(spark, table, fresh, **KW)["action"] == "rebuild"
    assert _agg_view(spark, path) == _agg_view(spark, fresh) == restored


def test_agg_view_null_group_handling(spark, tmp_path):
    """NULL is a real group under GROUP BY — every group-key join in the
    sync is null-safe, so the null group merges, recomputes, and empties
    exactly like any other (plain equi-joins would duplicate it forever)."""
    from recidiviz_data_spark.operators.aggview import agg_view_sync

    state = _av_state(20)
    table = _table(spark, str(tmp_path / "t_av"), state, buckets=2)
    path = str(tmp_path / "avn")
    agg_view_sync(spark, table, path, group_col="source", value_col="val")

    _apply(spark, table, state, [("I", "doc_800", None, 50),
                                 ("I", "doc_801", None, 7)], 0)
    # 2-bucket fixture: disable the changed-fraction rebuild guard so the
    # incremental path itself is what this test exercises
    res = agg_view_sync(spark, table, path, group_col="source", value_col="val",
                        rebuild_changed_fraction=1.0)
    assert res["recomputed_groups"] == 0  # insert-only, even for null group
    got = _agg_view(spark, path)
    assert got == _agg_full(spark, table)
    assert (None, 2, 57.0, 7, 50) in got

    # delete the null group's max: null-safe recompute, no duplicate rows
    _apply(spark, table, state, [("D", "doc_800", None, None)], 1)
    res = agg_view_sync(spark, table, path, group_col="source", value_col="val",
                        rebuild_changed_fraction=1.0)
    assert res["recomputed_groups"] >= 1
    got = _agg_view(spark, path)
    assert got == _agg_full(spark, table)
    assert (None, 1, 7.0, 7, 7) in got
    assert sum(1 for r in got if r[0] is None) == 1


def test_agg_view_fraction_guard_rebuilds(spark, tmp_path):
    """A batch scattered over more than rebuild_changed_fraction of the
    buckets makes the incremental path strictly worse than one full scan
    (two changed-bucket scans + merges vs one) — the sync detects it from
    changed_buckets (pure metadata) and rebuilds instead."""
    from recidiviz_data_spark.operators.aggview import agg_view_sync

    state = _av_state(40)
    table = _table(spark, str(tmp_path / "t_av"), state, buckets=4)
    path = str(tmp_path / "avg_guard")
    agg_view_sync(spark, table, path, group_col="source", value_col="val")

    _apply(spark, table, state,
           [("I", f"doc_{800 + i}", f"s{i % 5}", i) for i in range(40)], 0)
    res = agg_view_sync(spark, table, path, group_col="source", value_col="val")
    assert res["action"] == "rebuild"  # 40 keys over 4 buckets: all moved
    assert _agg_view(spark, path) == _agg_full(spark, table)


def test_agg_view_lost_max_refills_from_untouched_bucket(spark, tmp_path):
    """A group's max inserted and then deleted: the delete recomputes
    exactly that group, and its old max comes back from rows in buckets the
    delete batch never touched. Byte-parity with full recompute
    throughout."""
    from recidiviz_data_spark.operators.aggview import agg_view_sync

    state = _av_state(60)
    table = _table(spark, str(tmp_path / "t_av"), state, buckets=8)
    path = str(tmp_path / "avp")
    res = agg_view_sync(spark, table, path, **KW)
    assert res["action"] == "rebuild"
    assert _agg_view(spark, path) == _agg_full(spark, table)

    # insert a new global max for s0, then delete it: the recompute must
    # restore the old max from buckets the delete batch never touched
    _apply(spark, table, state, [("I", "doc_990", "s0", 9999)], 0)
    res = agg_view_sync(spark, table, path, **KW)
    assert res["action"] == "incremental" and res["recomputed_groups"] == 0
    got = _agg_view(spark, path)
    assert got == _agg_full(spark, table)
    assert any(r[0] == "s0" and r[4] == 9999 for r in got)

    _apply(spark, table, state, [("D", "doc_990", None, None)], 1)
    res = agg_view_sync(spark, table, path, **KW)
    assert res["action"] == "incremental" and res["recomputed_groups"] == 1
    got = _agg_view(spark, path)
    assert got == _agg_full(spark, table)
    s0_max = max((i * 7) % 100 for i in range(0, 60, 5))
    assert any(r[0] == "s0" and r[4] == s0_max for r in got)


def test_distinct_view_sync_exact_and_partition_carry(spark, tmp_path):
    """COUNT(DISTINCT) IVM: the support multiset keeps every sync exact
    under I/U/D with NO recompute scan; only support partitions holding
    changed groups are rewritten (unchanged partitions hardlink-carry —
    same inode); null values are ignored per SQL semantics."""
    from recidiviz_data_spark.operators.aggview import (
        distinct_view_read,
        distinct_view_support,
        distinct_view_sync,
    )
    from recidiviz_data_spark.tables import artifacts

    # 40 groups spread over the 32 support partitions; duplicate values
    state = {f"doc_{i:03d}": (f"g{i % 40}", (i // 40) * 10)
             for i in range(120)}  # each group holds values {0,10,20}
    table = _table(spark, str(tmp_path / "t_dv"), state, buckets=4)
    path = str(tmp_path / "dv")

    def full():
        return {
            tuple(r) for r in table.read(spark).groupBy("source")
            .agg(F.count_distinct("val").alias("n_distinct")).collect()
        }

    def view():
        return {tuple(r) for r in distinct_view_read(spark, path).collect()}

    res = distinct_view_sync(spark, table, path, group_col="source", value_col="val")
    assert res["action"] == "rebuild" and res["groups"] == 40
    assert view() == full() and ("g0", 3) in view()
    assert distinct_view_sync(spark, table, path, group_col="source",
                              value_col="val")["action"] == "noop"
    p_v1 = artifacts.resolve(path)[0]

    # one batch touching ONLY g0: duplicate value (no distinct change), a new
    # value, and a NULL value (ignored)
    _apply(spark, table, state,
           [("I", "doc_900", "g0", 10),    # dup of existing value
            ("I", "doc_901", "g0", 77),    # new value
            ("I", "doc_902", "g0", None)],  # null: ignored
           0)
    res = distinct_view_sync(spark, table, path, group_col="source", value_col="val",
                             rebuild_changed_fraction=1.0)
    assert res["action"] == "incremental"
    assert 0 < res["changed_parts"] < 32
    assert view() == full() and ("g0", 4) in view()

    # unchanged support partitions are HARDLINK-carried (same inode)
    assert _carried(p_v1, artifacts.resolve(path)[0], "support")

    # delete one of two copies of (g0, 10): distinct count unchanged; then
    # the last copy: it drops; support row dies
    _apply(spark, table, state, [("D", "doc_900", None, None)], 1)
    distinct_view_sync(spark, table, path, group_col="source", value_col="val",
                       rebuild_changed_fraction=1.0)
    assert view() == full() and ("g0", 4) in view()

    _apply(spark, table, state,
           [("D", "doc_040", None, None),  # g0's LAST val-10 doc
            ("U", "doc_001", "g1", 500)],  # g1: 0 -> 500
           2)
    distinct_view_sync(spark, table, path, group_col="source", value_col="val",
                       rebuild_changed_fraction=1.0)
    assert view() == full() and ("g0", 3) in view()  # {0, 20, 77}
    sup = {
        (r["source"], r["val"]): r["cnt"]
        for r in distinct_view_support(spark, path).collect()
    }
    assert ("g0", 10) not in sup  # multiset emptied at value grain
    assert sup[("g1", 500)] == 1 and ("g1", 0) not in sup


def test_topk_view_sync_exact_and_bucket_bounded(spark, tmp_path):
    """Top-k IVM: per-(group, bucket) top-k partials make every sync exact
    and bucket-bounded — a deleted top-1's replacement refills from CARRIED
    partials of untouched buckets; groups with unchanged partials keep their
    view rows verbatim; ties break on doc_id; unchanged partial partitions
    hardlink-carry."""
    from recidiviz_data_spark.operators.aggview import (
        topk_view_read,
        topk_view_sync,
    )
    from recidiviz_data_spark.tables import artifacts

    state = _av_state(60)
    table = _table(spark, str(tmp_path / "t_av"), state, buckets=8)
    path = str(tmp_path / "topk")
    kw = dict(group_col="source", value_col="val", k=3,
              rebuild_changed_fraction=1.0)

    def view():
        return {
            tuple(r) for r in topk_view_read(spark, path)
            .select("source", "rnk", "doc_id", "val").collect()
        }

    res = topk_view_sync(spark, table, path, **kw)
    assert res["action"] == "rebuild" and res["groups"] == 5
    assert view() == _topk_full(spark, table)
    assert topk_view_sync(spark, table, path, **kw)["action"] == "noop"
    p_v1 = artifacts.resolve(path)[0]

    # new global top-1 for s0, plus a TIE with an existing value in s1
    # (doc_id decides); s2..s4 untouched -> not refolded
    _apply(spark, table, state, [("I", "doc_900", "s0", 5000),
                                 ("I", "doc_000a", "s1", (31 * 7) % 100)], 0)
    res = topk_view_sync(spark, table, path, **kw)
    assert res["action"] == "incremental"
    assert 0 < res["refolded_groups"] <= 2
    got = view()
    assert got == _topk_full(spark, table)
    assert ("s0", 1, "doc_900", 5000) in got

    # delete the inserted top-1: the refill (old max) lives in buckets the
    # delete batch never touched — it must come from carried partials
    _apply(spark, table, state, [("D", "doc_900", None, None)], 1)
    res = topk_view_sync(spark, table, path, **kw)
    assert res["action"] == "incremental" and res["refolded_groups"] >= 1
    got = view()
    assert got == _topk_full(spark, table)
    assert not any(r[2] == "doc_900" for r in got)
    s0_best = max((i * 7) % 100 for i in range(0, 60, 5))
    assert any(r[0] == "s0" and r[1] == 1 and r[3] == s0_best for r in got)

    # unchanged partial partitions hardlink-carry across versions
    assert _carried(p_v1, artifacts.resolve(path)[0], "parts")


def test_agg_view_follows_stream(spark, tmp_path):
    """index_sync_hook(agg_views=...): every committed micro-batch advances
    the materialized aggregate view — rebuild on epoch 1, exact incremental
    syncs after — and the final view equals a full recompute over the final
    snapshot (the streaming half of IVM)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from recidiviz_data_spark.cdc.apply import create_empty_table
    from recidiviz_data_spark.streaming.microbatch import (
        index_sync_hook,
        stream_apply_available_now,
    )

    # the file stream source orders files by mtime (millisecond grain), so
    # each batch file gets its own increasing mtime: base + bid seconds
    base = time.time() - 60

    def write_batch(bid, rows):
        # rows: (event_seq, op, doc_id, source|None, val|None)
        bdir = tmp_path / "cl" / f"batch_id={bid}"
        bdir.mkdir(parents=True, exist_ok=True)
        path = str(bdir / "part-0.parquet")
        pq.write_table(
            pa.table({
                "event_seq": pa.array([r[0] for r in rows], pa.int64()),
                "op": pa.array([r[1] for r in rows], pa.string()),
                "doc_id": pa.array([r[2] for r in rows], pa.string()),
                "tokens": pa.array(
                    [None if r[1] == "D" else [1] for r in rows],
                    pa.list_(pa.int32())),
                "n_tok": pa.array(
                    [None if r[1] == "D" else 1 for r in rows], pa.int32()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "val": pa.array([r[4] for r in rows], pa.int32()),
            }),
            path,
        )
        os.utime(path, (base + bid, base + bid))

    write_batch(0, [(i + 1, "I", f"doc_{i:02d}", f"s{i % 3}", i * 10)
                    for i in range(12)])
    write_batch(1, [(13, "I", "doc_90", "s0", 999),
                    (14, "D", "doc_00", None, None)])
    write_batch(2, [(15, "U", "doc_90", "s1", -4),   # group move
                    (16, "D", "doc_04", None, None)])

    schema = T.StructType([
        T.StructField("event_seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("val", T.IntegerType(), True),
    ])
    payload = T.StructType([f for f in schema.fields
                            if f.name not in ("event_seq", "op")])
    table = create_empty_table(str(tmp_path / "t_avs"), payload, num_buckets=4)
    vpath = str(tmp_path / "avstream")
    dpath = str(tmp_path / "dvstream")
    tpath = str(tmp_path / "tkstream")
    rs: list[dict] = []
    hook = index_sync_hook(spark, agg_views=[(vpath, "source", "val")],
                           distinct_views=[(dpath, "source", "val")],
                           topk_views=[(tpath, "source", "val", 2)],
                           results=rs)
    stream_apply_available_now(spark, table, str(tmp_path / "cl"),
                               str(tmp_path / "ck"), max_files_per_trigger=1,
                               schema=schema, post_batch=hook, compact=False)

    # 3 epochs x 3 views, epoch 1 builds, the rest advance incrementally
    assert [r["kind"] for r in rs] == [
        "aggview:source:val", "distinctview:source:val", "topkview:source:val:2",
    ] * 3
    assert all(r["action"] == "rebuild" for r in rs[:3])
    assert all(r["action"] == "incremental" for r in rs[3:])
    assert _agg_view(spark, vpath) == _agg_full(spark, table)
    from recidiviz_data_spark.operators.aggview import (
        distinct_view_read,
        topk_view_read,
    )

    assert {tuple(r) for r in distinct_view_read(spark, dpath).collect()} == {
        tuple(r) for r in table.read(spark).groupBy("source")
        .agg(F.count_distinct("val").alias("n_distinct")).collect()
    }
    assert {
        tuple(r) for r in topk_view_read(spark, tpath)
        .select("source", "rnk", "doc_id", "val").collect()
    } == _topk_full(spark, table, k=2)


def test_distinct_view_conflict_retry_keeps_fraction(spark, tmp_path, monkeypatch):
    """The ArtifactConflict re-entry of distinct_view_sync must forward the
    caller's rebuild_changed_fraction (ADVICE r7: it reverted to the 0.5
    default, silently full-rebuilding few-bucket tables on conflict)."""
    from recidiviz_data_spark.operators import aggview
    from recidiviz_data_spark.tables import artifacts

    state = {f"doc_{i}": (f"g{i % 3}", i % 5) for i in range(30)}
    table = _table(spark, str(tmp_path / "t_dvc"), state, buckets=2)
    path = str(tmp_path / "dvc")

    # initial build (no conflict path involved)
    aggview.distinct_view_sync(spark, table, path, group_col="source",
                               value_col="val", rebuild_changed_fraction=1.0)

    real_publish = artifacts.publish
    real_sync = aggview.distinct_view_sync
    seen: list[dict] = []
    fails = {"n": 1}

    def flaky_publish(*a, **kw):
        if fails["n"]:
            fails["n"] -= 1
            raise artifacts.ArtifactConflict("simulated concurrent flip")
        return real_publish(*a, **kw)

    def recording_sync(*a, **kw):
        seen.append(dict(kw))
        return real_sync(*a, **kw)

    monkeypatch.setattr(artifacts, "publish", flaky_publish)
    monkeypatch.setattr(aggview, "distinct_view_sync", recording_sync)

    # advance the table so the sync has work, then sync with a conflict
    _apply(spark, table, state,
           [("U", f"doc_{i}", f"g{i % 3}", 7) for i in range(3)], 0)
    res = real_sync(spark, table, path, group_col="source", value_col="val",
                    rebuild_changed_fraction=1.0)
    assert res["action"] in ("incremental", "rebuild", "noop")
    # the re-entry (triggered by the simulated conflict) carried the guard
    assert seen, "conflict re-entry never happened (publish not retried?)"
    assert all(kw.get("rebuild_changed_fraction") == 1.0 for kw in seen), seen


def test_index_sync_hook_forwards_view_sync_kw(spark, tmp_path, monkeypatch):
    """index_sync_hook's view_sync_kw must reach all three view syncs
    (ADVICE r7: sync_kw only reached band/IVF/cluster syncs; view syncs on
    few-bucket streams silently full-rebuilt every micro-batch)."""
    from recidiviz_data_spark.operators import aggview
    from recidiviz_data_spark.streaming.microbatch import index_sync_hook

    state = {f"doc_{i}": (f"g{i % 3}", i) for i in range(12)}
    table = _table(spark, str(tmp_path / "t_hook"), state, buckets=2)

    calls: dict[str, dict] = {}

    def spy(name, real):
        def f(*a, **kw):
            calls[name] = dict(kw)
            return real(*a, **kw)
        return f

    monkeypatch.setattr(aggview, "agg_view_sync", spy("agg", aggview.agg_view_sync))
    monkeypatch.setattr(aggview, "distinct_view_sync",
                        spy("distinct", aggview.distinct_view_sync))
    monkeypatch.setattr(aggview, "topk_view_sync",
                        spy("topk", aggview.topk_view_sync))

    results: list = []
    hook = index_sync_hook(
        spark,
        agg_views=[(str(tmp_path / "av"), "source", "val")],
        distinct_views=[(str(tmp_path / "dv"), "source", "val")],
        topk_views=[(str(tmp_path / "tv"), "source", "val", 2)],
        view_sync_kw={"rebuild_changed_fraction": 1.0},
        results=results,
    )
    hook(table, batch_id=0)
    assert set(calls) == {"agg", "distinct", "topk"}
    for name, kw in calls.items():
        assert kw.get("rebuild_changed_fraction") == 1.0, (name, kw)
    assert len(results) == 3

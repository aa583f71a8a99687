"""Incremental view syncs (operators/aggview.py) folding the keyed
changed-row diff: randomized equivalence with a fresh rebuild, the
rescan-only-on-lost-extremum rule, and the Spark-job budget of one
incremental ``index_sync_hook`` call."""

import os
import random

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


def _apply(spark, table, state, events, batch_id):
    """Apply (op, key, group, value) events and mirror them into ``state``."""
    from recidiviz_data_spark.cdc.apply import apply_batch

    rows = []
    for i, (op, k, g, v) in enumerate(events):
        if op == "D":
            rows.append((i + 1, "D", k, None, None, None, None))
            state.pop(k)
        else:
            rows.append((i + 1, op, k, [1], 1, g, v))
            state[k] = (g, v)
    apply_batch(spark, table, spark.createDataFrame(rows, EV), batch_id,
                compact=False)


def _agg_rows(df):
    return {tuple(r) for r in df.select(
        "source", "n_rows", "sum_val", "min_val", "max_val").collect()}


def _agg_view(spark, path):
    from recidiviz_data_spark.operators.aggview import agg_view_read

    return _agg_rows(agg_view_read(spark, path))


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


def _partials_tree(spark, table, path):
    from recidiviz_data_spark.tables import artifacts

    got = spark.read.parquet(os.path.join(artifacts.resolve(path)[0], "minmax"))
    want = table.read(spark).groupBy(
        "source", table.bucket_col().alias("bucket")
    ).agg(F.min("val"), F.max("val"))
    return ({tuple(r) for r in got.select("source", "bucket", "mn", "mx").collect()},
            {tuple(r) for r in want.collect()})


def _extremum_key(state, group, pick):
    vals = [(v, k) for k, (g, v) in sorted(state.items())
            if g == group and v is not None]
    return pick(vals)[1]


def test_view_syncs_equal_rebuild_under_random_iud(spark, tmp_path, monkeypatch):
    """Random I/U/D batches — group moves, a NULL group and NULL values,
    deletes and updates of the current min/max, a group emptied out, and a
    compaction-only commit — through agg ``minmax="scan"``, agg
    ``minmax="partials"`` and the distinct view. Every sync takes the
    incremental path and equals a fresh rebuild; the views
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
    paths = {n: str(tmp_path / n) for n in ("scan", "partials", "distinct")}
    hooked = {n: str(tmp_path / f"hook_{n}") for n in ("scan", "distinct")}

    def sync_all():
        return [
            agg_view_sync(spark, table, paths["scan"], **KW),
            agg_view_sync(spark, table, paths["partials"], minmax="partials", **KW),
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
        assert [r["action"] for r in res] == ["incremental"] * 3, (i, res)
        diffs.clear()
        hook(table, i)
        assert [r["action"] for r in results[-2:]] == ["incremental"] * 2
        assert len(diffs) == 1  # both views folded the hook's one diff
        agg, distinct = _rebuilt(spark, table)
        assert _agg_view(spark, paths["scan"]) == agg, i
        assert _agg_view(spark, paths["partials"]) == agg, i
        assert _distinct_view(spark, paths["distinct"]) == distinct, i
        got_tree, want_tree = _partials_tree(spark, table, paths["partials"])
        assert got_tree == want_tree, i
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
    raw_read = table.read

    def recording_read(spark_, *a, **kw):
        reads.append(kw.get("buckets"))
        return raw_read(spark_, *a, **kw)

    # g1 holds 1, 5, ..., 37: 17 is neither its min nor its max
    _apply(spark, table, state, [("D", "doc_017", None, None)], 0)
    monkeypatch.setattr(table, "read", recording_read)
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
    from recidiviz_data_spark.operators.aggview import _aggs, agg_view_sync

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
    want = _agg_rows(_aggs(table.read(spark), "source", "val"))
    assert _agg_view(spark, path) == want


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


# Spark jobs one incremental hook call runs below (measured at local[8]; the
# per-view diff design it replaced ran 43 at local[4])
HOOK_JOB_BUDGET = 23


def test_hook_spark_job_budget(spark, tmp_path):
    """One incremental ``index_sync_hook`` call advancing an agg and a
    distinct view over a small multi-bucket table runs at most the measured
    number of Spark jobs (counted through a job group)."""
    from recidiviz_data_spark.streaming.microbatch import index_sync_hook

    state = {f"doc_{i:03d}": (f"g{i % 3}", i % 17) for i in range(64)}
    table = _table(spark, str(tmp_path / "t"), state, buckets=16)
    results: list[dict] = []
    hook = index_sync_hook(
        spark, agg_views=[(str(tmp_path / "a"), "source", "val")],
        distinct_views=[(str(tmp_path / "d"), "source", "val")],
        results=results)
    hook(table, -1)
    _apply(spark, table, state,
           [("U", "doc_001", "g2", 40), ("D", "doc_010", None, None),
            ("I", "doc_900", "g0", 3)], 0)
    sc = spark.sparkContext
    sc.setJobGroup("view_hook_budget", "one incremental hook call")
    try:
        hook(table, 0)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert [r["action"] for r in results[-2:]] == ["incremental"] * 2
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("view_hook_budget"))
    assert n_jobs <= HOOK_JOB_BUDGET, n_jobs


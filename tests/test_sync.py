"""The one sync lifecycle (``artifacts.sync``) every table-derived artifact
follows — band and IVF indexes, the near-dup cluster table and the agg,
distinct and top-k views: the two-ended span rule for a caller's diff,
racing index syncs converging, the cluster sync's forwarded stale
fraction, branch-scoped default paths, and the conflict re-entry keeping
the caller's arguments."""

import collections
import importlib
import os
import shutil

import pytest

SCHEMA = ("doc_id string, tokens array<int>, n_tok int, text string, "
          "embedding array<float>, source string, val int")
EV = "event_seq long, op string, " + SCHEMA
N_DOCS = 150  # enough vectors that the IVF build seeds several centroids


def _row(i, k=None):
    """Doc ``i`` carrying content ``k`` (its own by default): a distinct
    4-word text and vector, a group and a value."""
    k = i if k is None else k
    emb = [float(10 + k), 1.0, float((k * 3) % 11 + 2), float((k * 5) % 13 + 2)]
    return (f"doc_{i:03d}", [1], 1, f"w{k}a w{k}b w{k}c w{k}d", emb,
            f"g{k % 3}", k % 7)


def _table(spark, path):
    from recidiviz_data_spark.cdc.apply import bootstrap_table

    df = spark.createDataFrame([_row(i) for i in range(N_DOCS)], SCHEMA)
    return bootstrap_table(spark, path, df, num_buckets=2)


def _apply(spark, table, events, batch_id):
    """Apply ("I"|"U", doc, content) and ("D", doc) events as one commit."""
    from recidiviz_data_spark.cdc.apply import apply_batch

    rows = [
        (seq, "D", f"doc_{e[1]:03d}", *[None] * 6) if e[0] == "D"
        else (seq, e[0], *_row(e[1], e[2]))
        for seq, e in enumerate(events, 1)
    ]
    apply_batch(spark, table, spark.createDataFrame(rows, EV), batch_id,
                compact=False)


def _rows(df):
    return collections.Counter(str(r) for r in df.select(sorted(df.columns)).collect())


def _artifact(spark, base):
    """The current version's sync record and every parquet dir in it, as
    row multisets. The band-index provenance stamp is left out: it names
    version dirs, which are random per publish."""
    from recidiviz_data_spark.tables import artifacts

    payload = artifacts.resolve(base)[0]
    meta = artifacts.sync_meta_at(payload)
    meta.pop("consumed", None)
    return meta, {
        d: _rows(spark.read.parquet(os.path.join(payload, d)))
        for d in sorted(os.listdir(payload))
        if os.path.isdir(os.path.join(payload, d))
    }


# -- a caller's diff must span (stored version, current version) ---------

def _band_state(spark, table, path):
    from recidiviz_data_spark.operators.dedup import _band_sync_meta, band_index_bands

    meta = _band_sync_meta(path)
    return (meta["live_docs"], meta["stale_docs"],
            _rows(band_index_bands(spark, path).select("doc_id", "band", "h_lo", "h_hi")))


def _ivf_state(spark, table, path):
    from recidiviz_data_spark.tables import artifacts

    meta = artifacts.sync_meta(path)
    vecs = spark.read.parquet(os.path.join(artifacts.resolve(path)[0], "vectors"))
    return (meta["live_docs"], meta["stale_docs"],
            _rows(vecs.select("vec_id", "label", "v", "n2")))


def _cluster_state(spark, table, path):
    from recidiviz_data_spark.operators.dedup import neardup_clusters_view
    from recidiviz_data_spark.tables import artifacts

    meta = artifacts.sync_meta(path)
    return (meta["live_docs"], meta["stale_docs"],
            _rows(neardup_clusters_view(spark, path)))


def _index_sync(name):
    from recidiviz_data_spark.operators import dedup, similarity

    return {"band": (dedup.band_index_sync, _band_state),
            "ivf": (similarity.ivf_index_sync, _ivf_state),
            "clusters": (dedup.neardup_clusters_sync, _cluster_state)}[name]


@pytest.mark.parametrize("name", ["band", "ivf", "clusters"])
def test_index_sync_ignores_a_diff_that_ends_early(spark, tmp_path, name):
    """An index at v_a handed a diff of (v_a, v_b) while the table is at v_c
    must not apply it and stamp v_c: it diffs v_a -> v_c itself and ends
    equal to a rebuild at v_c."""
    from recidiviz_data_spark.cdc.differ import table_changes_pruned

    sync, state = _index_sync(name)
    table = _table(spark, str(tmp_path / "t"))
    path = str(tmp_path / "idx")
    kw = {"band_path": path + "_bands"} if name == "clusters" else {}
    sync(spark, table, path, **kw)
    v_a = table.current_version()
    _apply(spark, table, [("I", 150, 2)], 0)  # v_b: a twin of doc_002
    v_b = table.current_version()
    _apply(spark, table, [("I", 151, 3)], 1)  # v_c: a twin of doc_003
    early = table_changes_pruned(spark, table, v_a, v_b, cols=["text", "embedding"])

    r = sync(spark, table, path, changes=early, from_version=v_a, **kw)
    assert r["action"] == "append" and r["version"] == table.current_version()
    rkw = {"band_path": path + "_rb_bands"} if name == "clusters" else {}
    assert sync(spark, table, path + "_rb", **rkw)["action"] == "rebuild"
    assert state(spark, table, path) == state(spark, table, path + "_rb")


@pytest.mark.parametrize("name", ["band", "ivf"])
def test_racing_index_syncs_converge(spark, tmp_path, monkeypatch, name):
    """Two threads run the same index sync after one commit, both planning
    from the same index version: neither raises, one appends, and the
    other loses the CAS, re-enters and finds the index current. The index
    then equals a fresh rebuild."""
    import threading

    from recidiviz_data_spark.tables import artifacts

    sync, state = _index_sync(name)
    table = _table(spark, str(tmp_path / "t"))
    path = str(tmp_path / "idx")
    assert sync(spark, table, path)["action"] == "rebuild"
    _apply(spark, table, [("I", 150, 2), ("I", 151, 3)], 0)

    # each racer's first resolve of the index waits for the other's, so
    # both plan from the same seq and exactly one CAS publish can land
    real_resolve = artifacts.resolve_full
    planned = threading.Barrier(2, timeout=120)
    racers_planned = set()

    def resolve_full(base):
        r = real_resolve(base)
        me = threading.current_thread().name
        if base == path and me.startswith("racer") and me not in racers_planned:
            racers_planned.add(me)
            planned.wait()
        return r

    results, errs = [], []

    def race():
        try:
            results.append(sync(spark, table, path))
        except Exception as e:  # surfaced below: a thread must not die silently
            errs.append(e)

    monkeypatch.setattr(artifacts, "resolve_full", resolve_full)
    ts = [threading.Thread(target=race, name=f"racer{i}") for i in range(2)]
    [t.start() for t in ts]
    [t.join(timeout=600) for t in ts]
    monkeypatch.setattr(artifacts, "resolve_full", real_resolve)

    assert not any(t.is_alive() for t in ts)
    assert errs == []
    assert sorted(r["action"] for r in results) == ["append", "noop"]
    assert sync(spark, table, path + "_rb")["action"] == "rebuild"
    assert state(spark, table, path) == state(spark, table, path + "_rb")
    if name == "band":  # merged bucket sizes too: nothing landed twice
        assert _artifact(spark, path) == _artifact(spark, path + "_rb")


def test_cluster_sync_forwards_stale_fraction_to_band_index(spark, tmp_path):
    """A standalone cluster sync hands the caller's rebuild_stale_fraction
    to its band-index sync: an update batch above the 0.25 default but
    below the caller's fraction appends to the band index, not rebuilds."""
    from recidiviz_data_spark.operators.dedup import (
        _band_sync_meta,
        neardup_clusters_sync,
    )

    table = _table(spark, str(tmp_path / "t"))
    cpath, bpath = str(tmp_path / "clusters"), str(tmp_path / "bands")
    neardup_clusters_sync(spark, table, cpath, band_path=bpath)
    n = int(0.3 * N_DOCS)  # 30% of the docs updated: stale 0.3 > 0.25
    _apply(spark, table, [("U", i, 1000 + i) for i in range(n)], 0)

    r = neardup_clusters_sync(spark, table, cpath, band_path=bpath,
                              rebuild_stale_fraction=0.5)
    assert r["action"] == "append" and r["stale_docs"] == n
    band = _band_sync_meta(bpath)
    assert band["version"] == table.current_version()
    assert band["stale_docs"] == n  # appended at the caller's 0.5, not rebuilt


def test_default_view_path_is_branch_scoped(spark, tmp_path, monkeypatch):
    """Main and a branch handle sync their agg views into different default
    dirs: a branch sync leaves main's view equal to main's aggregate, and
    main's next sync is a no-op."""
    import tempfile

    from recidiviz_data_spark.operators.aggview import (
        _aggs,
        agg_view_path,
        agg_view_read,
        agg_view_sync,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    table = _table(spark, str(tmp_path / "t"))
    kw = dict(group_col="source", value_col="val", rebuild_changed_fraction=1.0)
    assert agg_view_sync(spark, table, **kw)["action"] == "rebuild"
    branch = table.create_branch("stage")
    _apply(spark, branch, [("U", 0, 500), ("I", 150, 501)], 0)
    assert agg_view_sync(spark, branch, **kw)["action"] == "rebuild"

    def view(t):
        return _rows(agg_view_read(spark, agg_view_path(t, "source", "val"))
                     .select("source", "n_rows", "sum_val", "min_val", "max_val"))

    assert view(table) == _rows(_aggs(table.read(spark), "source", "val"))
    assert view(branch) == _rows(_aggs(branch.read(spark), "source", "val"))
    assert agg_view_sync(spark, table, **kw)["action"] == "noop"


# -- a lost CAS re-enters with the caller's arguments ---------------------

VIEW = dict(group_col="source", value_col="val", rebuild_changed_fraction=1.0)
CONFLICT_CASES = {
    # name: (module, sync function, the caller's non-default arguments)
    "band": ("dedup", "band_index_sync", dict(rebuild_stale_fraction=0.9)),
    "ivf": ("similarity", "ivf_index_sync",
            dict(rebuild_stale_fraction=0.9, lloyd_iters=2)),
    "clusters": ("dedup", "neardup_clusters_sync",
                 dict(rebuild_stale_fraction=0.9, split_verify_cap=64)),
    "agg": ("aggview", "agg_view_sync", dict(VIEW)),
    "distinct": ("aggview", "distinct_view_sync", dict(VIEW)),
    "topk": ("aggview", "topk_view_sync", dict(VIEW, k=2)),
}


@pytest.mark.parametrize("name", sorted(CONFLICT_CASES))
def test_sync_conflict_reenters_with_the_callers_arguments(
        spark, tmp_path, monkeypatch, name):
    """One ArtifactConflict on the sync's first mutating publish: the sync
    re-enters with every argument the caller passed, advances instead of
    rebuilding, and lands the same artifact as a run with no conflict."""
    from recidiviz_data_spark.tables import artifacts

    mod_name, fn_name, caller_kw = CONFLICT_CASES[name]
    mod = importlib.import_module(f"recidiviz_data_spark.operators.{mod_name}")
    real_sync = getattr(mod, fn_name)

    def kw(path):
        band = {"band_path": path + "_bands"} if name == "clusters" else {}
        return dict(caller_kw, **band)

    table = _table(spark, str(tmp_path / "t"))
    clean, racy = str(tmp_path / "clean"), str(tmp_path / "racy")
    assert real_sync(spark, table, clean, **kw(clean))["action"] == "rebuild"
    for suffix in ("", "_bands") if name == "clusters" else ("",):
        shutil.copytree(clean + suffix, racy + suffix)
    _apply(spark, table, [("I", 150, 2), ("U", 4, 104), ("D", 5)], 0)

    real_publish = artifacts.publish
    injected, reentries = [], []

    def flaky_publish(base, *a, expected_seq=None, **pkw):
        if base == racy and expected_seq is not None and not injected:
            injected.append(base)
            raise artifacts.ArtifactConflict("injected: a racer flipped first")
        return real_publish(base, *a, expected_seq=expected_seq, **pkw)

    def recording_sync(*a, **skw):
        reentries.append(skw)
        return real_sync(*a, **skw)

    monkeypatch.setattr(artifacts, "publish", flaky_publish)
    monkeypatch.setattr(mod, fn_name, recording_sync)
    r = real_sync(spark, table, racy, **kw(racy))

    assert injected and len(reentries) == 1, reentries
    assert {k: reentries[0].get(k) for k in kw(racy)} == kw(racy)
    assert r["action"] in ("append", "incremental")
    monkeypatch.setattr(artifacts, "publish", real_publish)
    assert real_sync(spark, table, clean, **kw(clean)) == r
    assert _artifact(spark, racy) == _artifact(spark, clean)

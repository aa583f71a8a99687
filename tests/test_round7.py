"""Round-7 additions: ADVICE-r6 fixes (branch-handle GC guard, rename-steal
flip lock, IVF sync appends linking only data subtrees, band-sync span
guard, publish_branch blob re-check) and the round-7 build items (the
split-verify cap bounding the shrunk-cluster blast radius, WAP delta audits
over bucket-pruned table_changes, cross-artifact consistency stamps,
artifact reader pins + per-call GC grace, read_keys broadcast threshold,
bucket+column-pruned index-sync diffs). The round's view-sync tests live in
tests/test_aggview.py."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F


def _mk_publish(base, tag):
    from recidiviz_data_spark.tables import artifacts

    def _build(stage):
        os.makedirs(stage)
        with open(os.path.join(stage, "x.txt"), "w") as f:
            f.write(tag)

    return artifacts.publish(base, f"k-{tag}", _build)


# ----------------------------------------------------------- ADVICE r6 fixes


def test_gc_and_expiry_refuse_branch_handles(spark, tmp_path):
    """gc_orphans/expire_snapshots on a BRANCH handle would collect references
    only from the branch's own chain and delete main's live files from the
    shared data/ + fm/ dirs (ADVICE r6 high) — both must refuse."""
    from recidiviz_data_spark.cdc.apply import bootstrap_table
    from recidiviz_data_spark.tables.maintenance import expire_snapshots

    df = spark.createDataFrame(
        [(f"d{i}", [1], 1) for i in range(8)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    table = bootstrap_table(spark, str(tmp_path / "t"), df, num_buckets=2)
    b = table.create_branch("audit")
    with pytest.raises(ValueError, match="main handle"):
        b.gc_orphans(grace_seconds=0)
    with pytest.raises(ValueError, match="main handle"):
        expire_snapshots(b, keep_last=1, grace_seconds=0)
    # the main handle still works and deletes nothing live
    before = set(table.data_files())
    table.gc_orphans(grace_seconds=0)
    expire_snapshots(table, keep_last=5, grace_seconds=0)
    assert set(table.data_files()) == before
    assert table.read(spark).count() == 8


def test_flip_lock_stale_rename_steal(tmp_path):
    """A stale flip lock (crashed holder) is taken over by RENAME — atomic,
    exactly one stealer — and a FRESH lock blocks the publisher until its
    holder releases (the unlink-based takeover could delete a fresh lock)."""
    from recidiviz_data_spark.tables import artifacts

    base = str(tmp_path / "art")
    _mk_publish(base, "v1")
    lock = os.path.join(base, ".ptr.lock")

    # stale lock: created long ago -> stolen, publish lands
    with open(lock, "w") as f:
        f.write("dead-holder")
    old = time.time() - 60
    os.utime(lock, (old, old))
    _mk_publish(base, "v2")
    assert not os.path.exists(lock)
    r = artifacts.resolve_full(base)
    assert r[2] == 2  # two flips

    # fresh lock: publisher must WAIT for the holder, not steal it
    with open(lock, "w") as f:
        f.write("live-holder")
    done = threading.Event()

    def _pub():
        _mk_publish(base, "v3")
        done.set()

    t = threading.Thread(target=_pub)
    t.start()
    time.sleep(0.3)
    assert not done.is_set()  # blocked on the fresh lock
    os.unlink(lock)  # holder releases
    t.join(timeout=30)
    assert done.is_set()
    assert artifacts.resolve_full(base)[2] == 3


def test_ivf_append_links_only_data_subtrees(spark, tmp_path):
    """An ivf_index_sync append publishes a version holding only the data
    subtrees plus its own dead list and sync record — a stray file in the
    previous payload is not hardlink-carried — and assigns the vector it
    appends to the STORED centroids."""
    from recidiviz_data_spark.cdc.apply import apply_batch, bootstrap_table
    from recidiviz_data_spark.operators.similarity import _nearest_cent, ivf_index_sync
    from recidiviz_data_spark.tables import artifacts

    schema = "doc_id string, tokens array<int>, n_tok int, embedding array<float>"
    # 150 ids so the every-31st-hash centroid seeding finds seeds
    rows = [(f"doc_{i:03d}", [1], 1, [float(10 + i), 1.0, float(i % 7 + 2), 3.0])
            for i in range(150)]
    table = bootstrap_table(spark, str(tmp_path / "t_ivf"),
                            spark.createDataFrame(rows, schema), num_buckets=2)
    idx = str(tmp_path / "ivfidx")
    assert ivf_index_sync(spark, table, idx)["action"] == "rebuild"
    with open(os.path.join(artifacts.resolve(idx)[0], "stray.txt"), "w") as f:
        f.write("not index data")
    apply_batch(
        spark, table,
        spark.createDataFrame([(1, "I", "doc_150", [1], 1, [2000.0, 1.0, 2.0, 2.0])],
                              "event_seq long, op string, " + schema),
        0, compact=False,
    )
    r = ivf_index_sync(spark, table, idx)
    assert r["action"] == "append" and r["appended_docs"] == 1
    payload = artifacts.resolve(idx)[0]
    assert sorted(os.listdir(payload)) == ["centroids", "dead", "sync.json", "vectors"]
    cents = spark.read.parquet(os.path.join(payload, "centroids"))
    appended = spark.read.parquet(os.path.join(payload, "vectors")).filter(
        F.col("gen") == r["version"]
    )
    got = {(v["vec_id"], v["cell"]) for v in appended.collect()}
    want = {(v["vec_id"], v["cent_id"]) for v in _nearest_cent(appended, cents).collect()}
    assert len(got) == 1 and got == want


def test_band_sync_span_guard(spark, tmp_path):
    """band_index_sync applies caller-supplied changes only when their base
    version equals its own sync.json version (ADVICE r6 medium): a wider-span
    diff would re-append rows an intermediate sync already landed, inflating
    merged bucket sizes toward the band cap."""
    from recidiviz_data_spark.cdc.apply import apply_batch, bootstrap_table
    from recidiviz_data_spark.cdc.differ import snapshot_diff
    from recidiviz_data_spark.operators.dedup import (
        _band_sync_meta,
        band_index_bands,
        band_index_sync,
    )

    rows = [(f"doc_{i:02d}", [1], 1, f"w{i}a w{i}b w{i}c w{i}d") for i in range(24)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, text string")
    table = bootstrap_table(spark, str(tmp_path / "t_span"), df, num_buckets=2)
    idx = str(tmp_path / "bandidx")
    band_index_sync(spark, table, idx)
    v_a = _band_sync_meta(idx)["version"]

    ev1 = spark.createDataFrame(
        [(1, "I", "doc_24", [1], 1, "x24a x24b x24c x24d")],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, text string",
    )
    apply_batch(spark, table, ev1, 0, compact=False)
    band_index_sync(spark, table, idx)  # index advances independently to v_b
    v_b = _band_sync_meta(idx)["version"]
    assert v_b > v_a

    ev2 = spark.createDataFrame(
        [(2, "I", "doc_25", [1], 1, "y25a y25b y25c y25d")],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, text string",
    )
    apply_batch(spark, table, ev2, 1, compact=False)
    v_c = table.current_version()

    # a cluster-sync-style caller computed its diff from v_a (SPANNING v_b):
    # applying it verbatim would re-append doc_24's band rows
    old = table.read(spark, version=v_a).select("doc_id", "text")
    new = table.read(spark, version=v_c).select("doc_id", "text")
    wide = snapshot_diff(old, new, key="doc_id", payload_cols=["text"])
    r = band_index_sync(spark, table, idx, changes=wide, from_version=v_a)
    assert r["action"] == "append" and r["version"] == v_c
    assert r["appended_docs"] == 1  # only doc_25 — the fallback re-diffed v_b->v_c

    per_doc = {
        row["doc_id"]: row["n"]
        for row in band_index_bands(spark, idx)
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    # every doc has exactly one row per band — no duplicates from the wide diff
    assert per_doc["doc_24"] == per_doc["doc_00"]
    assert per_doc["doc_25"] == per_doc["doc_00"]


def test_publish_branch_recreates_gcd_range_blob(spark, tmp_path, monkeypatch):
    """publish_branch re-checks the range-manifest blobs it wrote after the
    manifest CAS and recreates any a racing gc_orphans unlinked (ADVICE r6
    low — the same blob-reuse/GC race _commit_once closes)."""
    from recidiviz_data_spark.cdc.apply import apply_batch, bootstrap_table
    from recidiviz_data_spark.tables import miniberg as mb

    df = spark.createDataFrame(
        [(f"d{i}", [1], 1) for i in range(40)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    table = bootstrap_table(spark, str(tmp_path / "t_rng"), df, num_buckets=6)
    b = table.create_branch("stage")
    ev = spark.createDataFrame(
        [(1, "I", "zz1", [2], 1)],
        "event_seq long, op string, doc_id string, tokens array<int>, n_tok int",
    )
    apply_batch(spark, b, ev, 0, compact=False)

    # simulate the race: every blob the publish writes is unlinked before the
    # post-CAS re-check runs (wrap _write_blob to delete right after write,
    # but only for calls made DURING publish_branch and only once per blob)
    orig = mb.Miniberg._write_blob
    zapped: list[str] = []
    in_publish = {"on": False}

    def zapping(self, payload):
        rel = orig(self, payload)
        p = os.path.join(self.root, rel)
        if in_publish["on"] and os.path.exists(p) and rel not in zapped:
            os.unlink(p)  # the racing GC
            zapped.append(rel)
        return rel

    monkeypatch.setattr(mb.Miniberg, "_write_blob", zapping)
    in_publish["on"] = True
    v = table.publish_branch("stage")
    in_publish["on"] = False
    monkeypatch.setattr(mb.Miniberg, "_write_blob", orig)
    assert zapped  # the race actually fired on at least one range blob
    # every blob the published manifest references exists again (re-check
    # recreated them) and the snapshot reads whole
    m = table.manifest(v)
    for rs in m["bucket_ranges"]["ranges"].values():
        assert os.path.exists(os.path.join(table.root, rs["path"]))
    assert table.read(spark, version=v).count() == 41


# ------------------------------------------------- round-7 build items


def test_artifact_reader_pins_and_grace(tmp_path):
    """Reader pins keep a superseded version alive past the GC grace window;
    expired pins are swept; per-call grace_seconds is honored by publish."""
    from recidiviz_data_spark.tables import artifacts

    base = str(tmp_path / "art")
    p1 = _mk_publish(base, "v1")
    pin = artifacts.pin_version(base, p1, ttl_seconds=120)
    _mk_publish(base, "v2")  # p1 superseded
    old = time.time() - 3600
    os.utime(p1, (old, old))  # well past any grace
    assert artifacts.gc_versions(base, grace_seconds=0) == []
    assert os.path.isdir(p1)  # pinned survivor
    artifacts.unpin(pin)
    removed = artifacts.gc_versions(base, grace_seconds=0)
    assert p1 in removed and not os.path.isdir(p1)

    # expired pin: swept, payload collected
    p2 = artifacts.resolve(base)[0]
    _mk_publish(base, "v3")
    dead_pin = artifacts.pin_version(base, p2, ttl_seconds=-1)
    os.utime(p2, (old, old))
    assert p2 in artifacts.gc_versions(base, grace_seconds=0)
    assert not os.path.exists(dead_pin)

    # pinned() context manager: resolve + pin for the block
    cur = artifacts.resolve(base)[0]
    with artifacts.pinned(base) as payload:
        assert payload == cur
        _mk_publish(base, "v4")
        os.utime(payload, (old, old))
        artifacts.gc_versions(base, grace_seconds=0)
        assert os.path.isdir(payload)
        with open(os.path.join(payload, "x.txt")) as f:
            assert f.read() == "v3"
    artifacts.gc_versions(base, grace_seconds=0)
    assert not os.path.isdir(cur)

    # per-call grace: grace_seconds=0 collects the superseded version at the
    # publish itself; a large grace keeps it
    before = artifacts.resolve(base)[0]
    _mk_publish(base, "v5")
    assert os.path.isdir(before)  # default grace kept it

    from recidiviz_data_spark.tables.artifacts import publish

    def _build(stage):
        os.makedirs(stage)
        with open(os.path.join(stage, "x.txt"), "w") as f:
            f.write("v6")

    prev = artifacts.resolve(base)[0]
    os.utime(prev, (old, old))
    os.utime(before, (old, old))
    publish(base, "k-v6", _build, grace_seconds=0)
    assert not os.path.isdir(prev) and not os.path.isdir(before)


def test_neardup_split_verify_cap_skips_megacluster(spark, tmp_path):
    """The shrunk-cluster split-check is size-capped (the round-6 `weak`):
    over-cap clusters are NOT point-read — survivors keep one cluster with an
    exact distributed keeper hand-off, their members count toward the stale
    fraction, and the deferred split lands at the rebuild."""
    from recidiviz_data_spark.cdc.apply import apply_batch, bootstrap_table
    from recidiviz_data_spark.operators.dedup import (
        neardup_clusters_sync,
        neardup_clusters_view,
        x_neardup_clusters,
    )
    from recidiviz_data_spark.tables.miniberg import Miniberg

    t_mega = "ma mb mc md me mf mg mh mi mj"
    t_p = "pa pb pc pd pe pf pg ph pi pj"
    t_q = "qa qb qc qd qe qf qg qh qi qj"
    rows = []
    # 80 docs so the mega cluster's shingles (df=6) stay under the hot cap
    # (df > n/10): at 40 docs they would all go hot and the cluster vanish
    for i in range(80):
        # docs 10-15: a 6-member "mega" cluster of identical texts;
        # docs 20,21 / 22,23: two pair-clusters bridged later
        text = t_mega if 10 <= i <= 15 else {
            20: t_p, 21: t_p, 22: t_q, 23: t_q}.get(i, f"w{i}a w{i}b w{i}c w{i}d")
        rows.append((f"doc_{i:02d}", [1], 1, text))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, text string")
    table = bootstrap_table(spark, str(tmp_path / "t_cap"), df, num_buckets=2)
    cpath, bpath = str(tmp_path / "capidx"), str(tmp_path / "capbands")

    def view():
        return {
            tuple(r) for r in neardup_clusters_view(spark, cpath)
            .select("doc_id", "cluster_id", "is_keeper", "cluster_size").collect()
        }

    def full():
        docs = table.read(spark).select("doc_id", "text")
        return {
            tuple(r) for r in x_neardup_clusters(spark, None, docs=docs)
            .select("doc_id", "cluster_id", "is_keeper", "cluster_size").collect()
        }

    r1 = neardup_clusters_sync(spark, table, cpath, band_path=bpath)
    assert r1["action"] == "rebuild"
    assert ("doc_15", "doc_10", False, 6) in view()

    # record every read_keys call so the cap's no-point-read claim is
    # MECHANICALLY checked, not inferred
    seen_keys: list[list] = []
    orig_read_keys = Miniberg.read_keys

    def recording(self, spark_, keys, *a, **kw):
        seen_keys.append(list(keys))
        return orig_read_keys(self, spark_, keys, *a, **kw)

    Miniberg.read_keys = recording
    try:
        # delete the mega cluster's KEEPER: 5 survivors > cap 3 -> the inline
        # split-check is skipped; keeper hand-off must still be exact
        ev = spark.createDataFrame(
            [(1, "D", "doc_10", None, None, None)],
            "event_seq long, op string, doc_id string, tokens array<int>, "
            "n_tok int, text string",
        )
        apply_batch(spark, table, ev, 0, compact=False)
        r2 = neardup_clusters_sync(spark, table, cpath, band_path=bpath,
                                   split_verify_cap=3)
        assert r2["action"] == "append"
        # stale = 1 delete + 5 skipped survivors
        assert r2["stale_docs"] == 6
        mega_survivors = {f"doc_{i:02d}" for i in range(11, 16)}
        for keys in seen_keys:
            assert not (set(keys) & mega_survivors)  # never point-read
        # identical texts: skipping the split-check loses nothing — the view
        # still equals the full reclustering, keeper handed to doc_11
        v2 = view()
        assert ("doc_11", "doc_11", True, 5) in v2
        assert ("doc_15", "doc_11", False, 5) in v2
        assert v2 == full()
    finally:
        Miniberg.read_keys = orig_read_keys

    # bridge the two pair-clusters, then delete the bridge UNDER the cap:
    # the deferred split leaves them merged (documented inexactness debt) —
    # the stale-fraction rebuild then lands the exact split
    ev_bridge = spark.createDataFrame(
        [(2, "I", "doc_42", [1], 1, f"{t_p} {t_q}")],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, text string",
    )
    apply_batch(spark, table, ev_bridge, 1, compact=False)
    r3 = neardup_clusters_sync(spark, table, cpath, band_path=bpath)
    assert ("doc_42", "doc_20", False, 5) in view()

    ev_del = spark.createDataFrame(
        [(3, "D", "doc_42", None, None, None)],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, text string",
    )
    apply_batch(spark, table, ev_del, 2, compact=False)
    r4 = neardup_clusters_sync(spark, table, cpath, band_path=bpath,
                               split_verify_cap=2)
    # survivors {20,21,22,23} stayed one cluster: split deferred
    v4 = view()
    assert ("doc_23", "doc_20", False, 4) in v4
    assert v4 != full()  # the recorded debt
    # the rebuild pays it
    ev_noise = spark.createDataFrame(
        [(4, "I", "doc_43", [1], 1, "z43a z43b z43c z43d")],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, text string",
    )
    apply_batch(spark, table, ev_noise, 3, compact=False)
    r5 = neardup_clusters_sync(spark, table, cpath, band_path=bpath,
                               rebuild_stale_fraction=0.0)
    assert r5["action"] == "rebuild"
    v5 = view()
    assert ("doc_21", "doc_20", False, 2) in v5
    assert ("doc_23", "doc_22", False, 2) in v5
    assert v5 == full()


def test_neardup_skipped_members_can_trigger_rebuild(spark, tmp_path):
    """Skipped split-checks count toward the stale fraction: a delete into an
    over-cap cluster can push the sync straight into the exact rebuild."""
    from recidiviz_data_spark.cdc.apply import apply_batch, bootstrap_table
    from recidiviz_data_spark.operators.dedup import neardup_clusters_sync

    t_mega = "ma mb mc md me mf mg mh mi mj"
    # 80 docs keep the 6-member cluster's shingles under the hot cap
    rows = [
        (f"doc_{i:02d}", [1], 1, t_mega if i < 6 else f"w{i}a w{i}b w{i}c w{i}d")
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, text string")
    table = bootstrap_table(spark, str(tmp_path / "t_capr"), df, num_buckets=2)
    cpath, bpath = str(tmp_path / "capridx"), str(tmp_path / "caprbands")
    neardup_clusters_sync(spark, table, cpath, band_path=bpath)

    ev = spark.createDataFrame(
        [(1, "D", "doc_00", None, None, None)],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, text string",
    )
    apply_batch(spark, table, ev, 0, compact=False)
    # 5 skipped survivors + 1 delete = 6 stale > 0.05 * 79 live
    r = neardup_clusters_sync(spark, table, cpath, band_path=bpath,
                              split_verify_cap=2, rebuild_stale_fraction=0.05)
    assert r["action"] == "rebuild" and r["stale_docs"] == 0


def test_wap_delta_audit(spark, tmp_path):
    """audit_on='changes' hands the audit the batch's I/U/D delta computed
    over ONLY the buckets the branch touched — the per-batch audit at lake
    scale — and a delete-fraction gate rejects without touching main."""
    from recidiviz_data_spark.cdc.apply import bootstrap_table
    from recidiviz_data_spark.cdc.wap import write_audit_publish

    df = spark.createDataFrame(
        [(f"doc_{i:03d}", [1, i], 2) for i in range(200)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    table = bootstrap_table(spark, str(tmp_path / "t_wap"), df, num_buckets=8)
    seen: dict = {}

    def audit(changes):
        rows = changes.groupBy("op").agg(F.count("*").alias("n")).collect()
        seen["ops"] = {r["op"]: r["n"] for r in rows}
        seen["files"] = sorted(changes.inputFiles())
        n_d = seen["ops"].get("D", 0)
        return n_d <= sum(seen["ops"].values()) / 2

    ev = spark.createDataFrame(
        [
            (1, "I", "doc_300", [9], 1),
            (2, "U", "doc_001", [8, 8], 2),
            (3, "D", "doc_002", None, None),
        ],
        "event_seq long, op string, doc_id string, tokens array<int>, n_tok int",
    )
    v0 = table.current_version()
    out = write_audit_publish(spark, table, ev, 0, audit_fn=audit,
                              audit_on="changes")
    assert out["published"] and table.current_version() == v0 + 1
    assert seen["ops"] == {"I": 1, "U": 1, "D": 1}
    assert table.read(spark).count() == 200  # +1 insert -1 delete

    # the audit's scan was bucket-pruned: its input files are a strict
    # subset of the two snapshots' union, confined to the touched buckets
    cb = table.changed_buckets(v0, v0 + 1)
    assert cb is not None and 0 < len(cb) < 8
    audit_files = {f.replace("file://", "") for f in seen["files"]}
    union_all = set(table.data_files(v0)) | set(table.data_files(v0 + 1))
    touched_only = set(table.data_files(v0, buckets=cb)) | set(
        table.data_files(v0 + 1, buckets=cb)
    )
    assert audit_files <= touched_only < union_all

    # a delete-heavy batch is rejected on the DELTA; main is untouched
    ev_bad = spark.createDataFrame(
        [
            (4, "D", "doc_003", None, None),
            (5, "D", "doc_004", None, None),
            (6, "I", "doc_301", [7], 1),
        ],
        "event_seq long, op string, doc_id string, tokens array<int>, n_tok int",
    )
    v1 = table.current_version()
    out2 = write_audit_publish(spark, table, ev_bad, 1, audit_fn=audit,
                               audit_on="changes")
    assert not out2["published"]
    assert table.current_version() == v1
    assert table.read(spark).count() == 200
    assert table.branches() == []


def test_changed_buckets_and_pruned_table_changes(spark, tmp_path):
    """changed_buckets is a metadata-only diff of the two snapshots' file
    sets; table_changes(buckets=...) reads only those buckets and still
    yields the exact event set."""
    from recidiviz_data_spark.cdc.apply import apply_batch, bootstrap_table

    df = spark.createDataFrame(
        [(f"doc_{i:03d}", [1], 1) for i in range(200)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    table = bootstrap_table(spark, str(tmp_path / "t_cb"), df, num_buckets=8)
    v0 = table.current_version()
    ev = spark.createDataFrame(
        [(1, "U", "doc_000", [5, 5], 2), (2, "D", "doc_001", None, None)],
        "event_seq long, op string, doc_id string, tokens array<int>, n_tok int",
    )
    apply_batch(spark, table, ev, 0, compact=False)
    v1 = table.current_version()

    cb = table.changed_buckets(v0, v1)
    assert cb is not None and 0 < len(cb) < 8
    pruned = table.table_changes(spark, v0, v1, buckets=cb)
    events = {(r["op"], r["doc_id"]) for r in pruned.select("op", "doc_id").collect()}
    assert events == {("U", "doc_000"), ("D", "doc_001")}
    # pruning read strictly fewer files than the full CDF
    full_files = set(table.table_changes(spark, v0, v1).inputFiles())
    assert set(pruned.inputFiles()) < full_files
    # identical snapshots: empty bucket list, empty delta
    assert table.changed_buckets(v1, v1) == []
    assert table.table_changes(spark, v1, v1, buckets=[]).count() == 0


def test_cross_artifact_consistency_stamps(spark, tmp_path):
    """The cluster table's sync.json records the band-index version it
    consumed; neardup_artifacts_consistent detects an independently-advanced
    band index and neardup_composed_read re-syncs to a consistent pair."""
    from recidiviz_data_spark.cdc.apply import apply_batch, bootstrap_table
    from recidiviz_data_spark.operators.dedup import (
        band_index_sync,
        neardup_artifacts_consistent,
        neardup_clusters_sync,
        neardup_composed_read,
        x_neardup_clusters,
    )
    from recidiviz_data_spark.tables import artifacts

    t_ab = "common alpha beta gamma"
    rows = [
        (f"doc_{i:02d}", [1], 1, t_ab if i < 2 else f"w{i}a w{i}b w{i}c w{i}d")
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, text string")
    table = bootstrap_table(spark, str(tmp_path / "t_cons"), df, num_buckets=2)
    cpath, bpath = str(tmp_path / "considx"), str(tmp_path / "consbands")

    neardup_clusters_sync(spark, table, cpath, band_path=bpath)
    assert neardup_artifacts_consistent(cpath, bpath)
    meta = artifacts.sync_meta(cpath)
    stamp = meta["consumed"]["band_index"]
    assert stamp["version"] == table.current_version()
    assert stamp["seq"] == artifacts.resolve_full(bpath)[2]

    # band index advances independently -> the pair is INCONSISTENT
    ev = spark.createDataFrame(
        [(1, "I", "doc_30", [1], 1, t_ab)],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, text string",
    )
    apply_batch(spark, table, ev, 0, compact=False)
    band_index_sync(spark, table, bpath)
    assert not neardup_artifacts_consistent(cpath, bpath)

    # the composed read heals it and returns the exact pair
    view_df, band_payload = neardup_composed_read(spark, table, cpath,
                                                  band_path=bpath)
    assert neardup_artifacts_consistent(cpath, bpath)
    assert os.path.isdir(band_payload)
    got = {
        tuple(r) for r in view_df
        .select("doc_id", "cluster_id", "is_keeper", "cluster_size").collect()
    }
    docs = table.read(spark).select("doc_id", "text")
    exact = {
        tuple(r) for r in x_neardup_clusters(spark, None, docs=docs)
        .select("doc_id", "cluster_id", "is_keeper", "cluster_size").collect()
    }
    assert got == exact
    assert ("doc_30", "doc_00", False, 3) in got
    # the incremental stamp reflects the probed band version
    meta2 = artifacts.sync_meta(cpath)
    assert meta2["consumed"]["band_index"]["version"] == table.current_version()


def test_read_keys_isin_to_broadcast_threshold(spark, tmp_path, monkeypatch):
    """read_keys renders small key lists as an isin literal (parquet In
    pushdown) and switches to a broadcast LEFT SEMI join past
    READ_KEYS_ISIN_MAX — same rows either way."""
    from recidiviz_data_spark.cdc.apply import bootstrap_table
    from recidiviz_data_spark.tables import miniberg as mb

    df = spark.createDataFrame(
        [(f"doc_{i:03d}", [1, i], 2) for i in range(60)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    table = bootstrap_table(spark, str(tmp_path / "t_rk"), df, num_buckets=4)
    monkeypatch.setattr(mb, "READ_KEYS_ISIN_MAX", 3)

    small = table.read_keys(spark, ["doc_001", "doc_002"])
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan_small
    assert {r["doc_id"] for r in small.collect()} == {"doc_001", "doc_002"}

    keys = [f"doc_{i:03d}" for i in range(10)]
    big = table.read_keys(spark, keys)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan_big and "BroadcastHashJoin" in plan_big
    assert {r["doc_id"] for r in big.collect()} == set(keys)


def test_files_for_keys_bisect_parity(tmp_path):
    """The bisect form of the key-range prune keeps exactly the files the
    linear scan kept."""
    from recidiviz_data_spark.tables.miniberg import Miniberg

    files = [
        {"path": "a", "bucket": 0, "key_min": "doc_000", "key_max": "doc_099"},
        {"path": "b", "bucket": 0, "key_min": "doc_100", "key_max": "doc_199"},
        {"path": "c", "bucket": 0},  # no stats: conservatively kept
        {"path": "d", "bucket": 0, "key_min": "doc_500", "key_max": "doc_500"},
    ]
    got = [f["path"] for f in Miniberg.files_for_keys(files, ["doc_150", "doc_042"])]
    assert got == ["a", "b", "c"]
    got2 = [f["path"] for f in Miniberg.files_for_keys(files, ["doc_500"])]
    assert got2 == ["c", "d"]
    got3 = [f["path"] for f in Miniberg.files_for_keys(files, ["doc_300"])]
    assert got3 == ["c"]
    with pytest.raises(ValueError, match="one type"):
        Miniberg.files_for_keys(files, ["doc_150", 7])
    with pytest.raises(ValueError, match="stats type"):
        Miniberg.files_for_keys(files, [7, 9])

def test_index_sync_diff_is_bucket_and_column_pruned(spark, tmp_path):
    """table_changes_pruned — the diff every index sync now runs — reads only
    the buckets whose file sets moved and only the columns the index ingests,
    and still yields the exact event set; the band-index sync lands the same
    state through it."""
    from recidiviz_data_spark.cdc.apply import apply_batch, bootstrap_table
    from recidiviz_data_spark.cdc.differ import snapshot_diff, table_changes_pruned
    from recidiviz_data_spark.operators.dedup import band_index_bands, band_index_sync
    from recidiviz_data_spark.plans.checks import plan_string

    rows = [(f"doc_{i:03d}", [1, i], 2, f"w{i}a w{i}b w{i}c w{i}d") for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, text string")
    table = bootstrap_table(spark, str(tmp_path / "t_psync"), df, num_buckets=8)
    bpath = str(tmp_path / "psync_bands")
    band_index_sync(spark, table, bpath)
    v0 = table.current_version()

    ev = spark.createDataFrame(
        [(1, "I", "doc_200", [9], 1, "w200a w200b w200c w200d"),
         (2, "U", "doc_000", [7], 1, "u0a u0b u0c u0d"),
         (3, "D", "doc_001", None, None, None)],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, text string",
    )
    apply_batch(spark, table, ev, 0, compact=False)
    v1 = table.current_version()

    pruned = table_changes_pruned(spark, table, v0, v1, cols=["text"])
    got = {(r["op"], r["doc_id"], r["text"]) for r in pruned.collect()}
    full = snapshot_diff(
        table.read(spark, version=v0).select("doc_id", "text"),
        table.read(spark, version=v1).select("doc_id", "text"),
        key="doc_id", payload_cols=["text"],
    )
    assert got == {(r["op"], r["doc_id"], r["text"]) for r in full.collect()}
    assert len(got) == 3
    # bucket pruning: strictly fewer input files than the full diff
    assert set(pruned.inputFiles()) < set(full.inputFiles())
    # column pruning reaches the base-file scans (ReadSchema carries only the
    # requested cols + _deleted). The MOR delta bucket alone reads full rows —
    # its newest-_seq fold packs whole rows into a struct, which is the point
    # of merge-on-read — and that cost is confined to exactly the changed
    # buckets the prune selected.
    cb = table.changed_buckets(v0, v1)
    base_side = plan_string(
        table.read(spark, version=v0, buckets=cb).select("doc_id", "text")
    )
    rs = [ln for ln in base_side.splitlines() if "ReadSchema" in ln]
    assert rs and all("tokens" not in ln for ln in rs)

    # the sync consumes the pruned diff and lands the exact index state
    res = band_index_sync(spark, table, bpath)
    assert res["action"] == "append" and res["appended_docs"] == 2
    bands = band_index_bands(spark, bpath)
    assert bands.filter(F.col("doc_id") == "doc_200").count() > 0
    assert band_index_sync(spark, table, bpath)["action"] == "noop"

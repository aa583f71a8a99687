"""Miniberg branches + write-audit-publish (Iceberg branch/WAP semantics
re-expressed over miniberg manifest chains): isolation, atomic publish with
disjoint-bucket rebase, real-conflict detection, GC/expiry pinning, and the
WAP gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recidiviz_data_spark.cdc.apply import apply_batch, bootstrap_table
from recidiviz_data_spark.cdc.wap import write_audit_publish
from recidiviz_data_spark.tables.maintenance import compact, expire_snapshots
from recidiviz_data_spark.tables.miniberg import CommitConflict

EV_SCHEMA = (
    "event_seq long, op string, doc_id string, tokens array<int>, n_tok int"
)
EV_LANG_SCHEMA = EV_SCHEMA + ", lang string"


def _mk_table(spark, tmp_path, n=12, num_buckets=2):
    df = spark.createDataFrame(
        [(f"doc_{i:02d}", [i], 1) for i in range(n)],
        "doc_id string, tokens array<int>, n_tok int",
    )
    return bootstrap_table(spark, str(tmp_path / "t"), df, num_buckets=num_buckets)


def _buckets_of(spark, doc_ids, num_buckets):
    df = spark.createDataFrame([(d,) for d in doc_ids], "doc_id string")
    return {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int").alias("b"),
        ).collect()
    }


def _tokens(spark, table):
    return {r["doc_id"]: list(r["tokens"]) for r in table.read(spark).collect()}


def test_branch_isolation_publish_and_schema_adoption(spark, tmp_path):
    """Commits on a branch are invisible to main until publish; publish is
    one atomic commit adopting the branch's buckets, watermark, schema
    evolution, and lineage; the branch is dropped after."""
    table = _mk_table(spark, tmp_path)
    v0 = table.current_version()
    before = _tokens(spark, table)

    br = table.create_branch("stage")
    assert table.branches() == ["stage"]
    ev = spark.createDataFrame(
        [
            (1, "U", "doc_00", [99], 1, "en"),
            (2, "I", "doc_90", [90], 1, "fr"),
            (3, "D", "doc_01", None, None, None),
        ],
        EV_LANG_SCHEMA,
    )
    apply_batch(spark, br, ev, 0, compact=False)

    # isolation: main is byte-identical; the branch sees the batch
    assert table.current_version() == v0
    assert _tokens(spark, table) == before
    got = _tokens(spark, br)
    assert got["doc_00"] == [99] and got["doc_90"] == [90] and "doc_01" not in got
    assert "lang" in br.read(spark).columns
    assert "lang" not in table.read(spark).columns

    v = table.publish_branch("stage")
    assert v == v0 + 1 and table.current_version() == v
    got = _tokens(spark, table)
    assert got["doc_00"] == [99] and got["doc_90"] == [90] and "doc_01" not in got
    assert table.manifest()["last_applied_batch"] == 0  # watermark adopted
    assert "lang" in table.read(spark).columns  # schema evolution adopted
    assert table.branches() == []  # dropped after publish
    # time travel below the publish still shows the pre-branch state
    assert {r["doc_id"] for r in table.read(spark, version=v0).collect()} == set(before)
    # branch lineage merged into main's log
    assert any(r.get("batch_id") == 0 for r in table.lineage())
    # idempotent replay of the published batch on main is a no-op
    assert apply_batch(spark, table, ev, 0, compact=False) == []


def test_branch_publish_rebases_over_disjoint_main_commit(spark, tmp_path):
    """Main commits landing DURING the audit on buckets the branch never
    touched merge cleanly at publish (same admissibility rule as commit()'s
    disjoint-bucket rebase)."""
    table = _mk_table(spark, tmp_path, n=12, num_buckets=2)
    bmap = _buckets_of(spark, [f"doc_{i:02d}" for i in range(12)], 2)
    d0 = next(d for d, b in bmap.items() if b == 0)
    assert any(b == 1 for b in bmap.values())

    br = table.create_branch("wap")
    apply_batch(
        spark, br,
        spark.createDataFrame([(1, "U", d0, [77], 1)], EV_SCHEMA),
        0, compact=False,
    )
    # meanwhile main compacts bucket 1 only (no watermark movement)
    assert compact(spark, table, buckets=[1], tombstone_horizon=-1) is not None
    moved = table.current_version()

    v = table.publish_branch("wap")
    assert v == moved + 1
    got = _tokens(spark, table)
    assert got[d0] == [77]  # branch bucket adopted
    assert table.manifest()["last_applied_batch"] == 0
    # bucket 1 kept main's compacted rewrite (path from main's head)
    s_main = table._bucket_map(table.manifest(moved))
    s_merged = table._bucket_map(table.manifest(v))
    assert s_merged["1"]["path"] == s_main["1"]["path"]


def test_branch_publish_real_conflicts_leave_branch_intact(spark, tmp_path):
    """Overlapping bucket rewrites and double watermark advances are REAL
    conflicts: publish raises and the branch survives for inspection/retry."""
    table = _mk_table(spark, tmp_path, n=12, num_buckets=2)
    bmap = _buckets_of(spark, [f"doc_{i:02d}" for i in range(12)], 2)
    d0a, d0b = [d for d, b in bmap.items() if b == 0][:2]

    # case 1: branch compacts bucket 0 (no watermark), main rewrites a
    # bucket-0 doc -> overlap
    br = table.create_branch("maint")
    assert compact(spark, br, buckets=[0], tombstone_horizon=-1) is not None
    apply_batch(
        spark, table,
        spark.createDataFrame([(1, "U", d0a, [5], 1)], EV_SCHEMA),
        0, compact=False,
    )
    with pytest.raises(CommitConflict, match="rewrote buckets"):
        table.publish_branch("maint")
    assert "maint" in table.branches()  # kept for retry
    table.drop_branch("maint")

    # case 2: both sides advance the changelog watermark
    br2 = table.create_branch("wap2")
    apply_batch(
        spark, br2,
        spark.createDataFrame([(10, "U", d0a, [6], 1)], EV_SCHEMA),
        1, compact=False,
    )
    apply_batch(
        spark, table,
        spark.createDataFrame([(11, "U", d0b, [7], 1)], EV_SCHEMA),
        1, compact=False,
    )
    with pytest.raises(CommitConflict, match="watermark"):
        table.publish_branch("wap2")
    assert "wap2" in table.branches()


def test_branch_pins_gc_and_snapshot_expiry(spark, tmp_path):
    """A live branch pins its data files and sidecars against gc_orphans AND
    expire_snapshots; dropping the branch releases them."""
    table = _mk_table(spark, tmp_path)
    br = table.create_branch("stage")
    apply_batch(
        spark, br,
        spark.createDataFrame([(1, "I", "doc_77", [7], 1)], EV_SCHEMA),
        0, compact=False,
    )
    staged = _tokens(spark, br)

    # gc with zero grace: branch-only files must survive
    table.gc_orphans(grace_seconds=0)
    assert _tokens(spark, br) == staged

    # main advances twice, then expires history down to its head — files the
    # branch's fork still references must survive the expiry GC
    for i, bid in enumerate((0, 1)):
        apply_batch(
            spark, table,
            spark.createDataFrame([(100 + i, "U", "doc_02", [40 + i], 1)], EV_SCHEMA),
            bid, compact=False,
        )
    expire_snapshots(table, keep_last=1, grace_seconds=0)
    assert _tokens(spark, br) == staged  # branch fully readable

    # dropping the branch releases its files to GC
    table.drop_branch("stage")
    removed = table.gc_orphans(grace_seconds=0)
    assert removed  # the branch's unpublished files are orphans now
    assert table.branches() == []
    # main remains fully consistent
    got = _tokens(spark, table)
    assert got["doc_02"] == [41] and "doc_77" not in got


def test_branch_publishes_after_fork_snapshot_expiry(spark, tmp_path):
    """A live branch pins its FORK snapshot's manifest against
    expire_snapshots: publish_branch diffs the branch against main AT THE
    FORK VERSION, so expiring it would strand the branch (a crash, not a
    conflict). Dropping/publishing the branch releases the pin."""
    table = _mk_table(spark, tmp_path)
    fork_v = table.current_version()
    br = table.create_branch("stage")
    apply_batch(
        spark, br,
        spark.createDataFrame([(1, "I", "doc_77", [7], 1)], EV_SCHEMA),
        0, compact=False,
    )
    # main advances on the DISJOINT bucket (compaction: no watermark
    # movement), then expires history to its head — the live branch must
    # keep main's fork manifest alive (like a tag)
    other = 1 - _buckets_of(spark, ["doc_77"], 2)["doc_77"]
    assert compact(spark, table, buckets=[other], tombstone_horizon=-1) is not None
    expire_snapshots(table, keep_last=1, grace_seconds=0)
    assert fork_v in table.versions()  # pinned by the live branch

    v = table.publish_branch("stage")  # crashes without the pin
    got = _tokens(spark, table)
    assert got["doc_77"] == [7] and len(got) == 13
    assert table.current_version() == v

    # publish dropped the branch -> the pin is released with it
    expire_snapshots(table, keep_last=1, grace_seconds=0)
    assert table.versions() == [v]


def test_tags_pin_snapshots_against_expiry(spark, tmp_path):
    """Tags are immutable named snapshots (Iceberg tag semantics): a tagged
    version survives expire_snapshots — including its data files under
    zero-grace GC — until untagged; tag names are create-once."""
    table = _mk_table(spark, tmp_path)
    v0 = table.current_version()
    base = _tokens(spark, table)
    assert table.tag("audit-q3") == v0
    assert table.tags() == {"audit-q3": v0}
    with pytest.raises(CommitConflict, match="already exists"):
        table.tag("audit-q3")  # create-once: re-point = untag + tag
    with pytest.raises(ValueError):
        table.tag("bad/name")
    with pytest.raises(FileNotFoundError):
        table.tag("ghost", version=v0 + 999)  # can't pin a missing snapshot

    for i in range(3):
        apply_batch(
            spark, table,
            spark.createDataFrame([(i + 1, "U", "doc_00", [50 + i], 1)], EV_SCHEMA),
            i, compact=False,
        )
    head = table.current_version()
    expire_snapshots(table, keep_last=1, grace_seconds=0)
    # only the head and the pinned snapshot survive; the pin is fully
    # readable by name (manifest, sidecars, AND data files kept by the GC)
    assert table.versions() == sorted({v0, head})
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in table.read(spark, version=table.ref("audit-q3")).collect()
    }
    assert got == base

    # untag releases the pin: the next expiry reclaims manifest + files
    table.untag("audit-q3")
    table.untag("audit-q3")  # idempotent
    expire_snapshots(table, keep_last=1, grace_seconds=0)
    assert table.versions() == [head]
    with pytest.raises(FileNotFoundError):
        table.ref("audit-q3")
    assert _tokens(spark, table)["doc_00"] == [52]  # head intact


def test_write_audit_publish_gate(spark, tmp_path):
    """The WAP gate: a failing audit leaves main byte-identical and drops
    the branch; a passing audit publishes atomically."""
    table = _mk_table(spark, tmp_path)
    v0 = table.current_version()
    before = _tokens(spark, table)

    # audit rule: the staged snapshot must keep >= 10 live docs
    def audit(df):
        return df.count() >= 10

    # delete-heavy bad batch: would drop to 4 live docs -> audit fails
    bad = spark.createDataFrame(
        [(i + 1, "D", f"doc_{i:02d}", None, None) for i in range(8)], EV_SCHEMA
    )
    r = write_audit_publish(spark, table, bad, 0, audit_fn=audit, compact=False)
    assert r["published"] is False
    assert table.current_version() == v0
    assert _tokens(spark, table) == before
    assert table.branches() == []

    # good batch passes the audit and lands atomically
    good = spark.createDataFrame([(1, "U", "doc_03", [33], 1)], EV_SCHEMA)
    r2 = write_audit_publish(spark, table, good, 0, audit_fn=audit, compact=False)
    assert r2["published"] is True and r2["version"] == v0 + 1
    assert _tokens(spark, table)["doc_03"] == [33]
    assert table.manifest()["last_applied_batch"] == 0
    assert table.branches() == []


def test_branches_and_wap_on_range_layout(spark, tmp_path):
    """The two round-6 features compose: branch fork / apply / publish and
    the WAP gate all work on a table whose manifests use the third-level
    bucket-RANGE layout — publish adopts the branch's buckets with
    untouched RANGES carried verbatim from main's head, and a failed audit
    leaves main byte-identical."""
    table = _mk_table(spark, tmp_path, n=20, num_buckets=16)
    before = _tokens(spark, table)
    bmap = _buckets_of(spark, [f"doc_{i:02d}" for i in range(20)], 16)

    br = table.create_branch("stage")
    ev = spark.createDataFrame(
        [(1, "U", "doc_00", [99], 1), (2, "I", "doc_90", [90], 1)], EV_SCHEMA
    )
    apply_batch(spark, br, ev, 0, compact=False)
    assert _tokens(spark, table) == before  # isolation under range layout

    # main moves on a bucket the branch never touched
    b_touched = {bmap["doc_00"]} | set(
        _buckets_of(spark, ["doc_90"], 16).values()
    )
    other_doc = next(d for d, b in bmap.items() if b not in b_touched)
    assert compact(spark, table, buckets=[bmap[other_doc]],
                   tombstone_horizon=-1) is not None
    head = table.manifest()

    v = table.publish_branch("stage")
    m = table.manifest(v)
    got = _tokens(spark, table)
    assert got["doc_00"] == [99] and got["doc_90"] == [90]
    assert got[other_doc] == before[other_doc]  # main's compaction kept
    # ranges untouched by the branch carry main's head paths verbatim
    size = m["bucket_ranges"]["size"]
    touched_lo = {str((b // size) * size) for b in b_touched}
    for lo, rs in head["bucket_ranges"]["ranges"].items():
        if lo not in touched_lo:
            assert m["bucket_ranges"]["ranges"][lo]["path"] == rs["path"]

    # WAP gate: a failing audit leaves main byte-identical (range layout)
    res = write_audit_publish(
        spark, table,
        spark.createDataFrame([(3, "U", "doc_01", [7], 1)], EV_SCHEMA),
        1, audit_fn=lambda df: False,
    )
    assert res["published"] is False
    assert table.current_version() == v
    assert _tokens(spark, table) == got
    res2 = write_audit_publish(
        spark, table,
        spark.createDataFrame([(3, "U", "doc_01", [7], 1)], EV_SCHEMA),
        1, audit_fn=lambda df: df.count() > 0,
    )
    assert res2["published"] is True
    assert _tokens(spark, table)["doc_01"] == [7]

"""The apply's phases: the driver-only write choice (no Spark session), the
per-bucket ``keys`` stamps the commits keep, and the schema the plan phase
evolves."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from recidiviz_data_spark.cdc.apply import _choose_writes, apply_batch, create_empty_table
from recidiviz_data_spark.tables.maintenance import compact, split_buckets
from tests.test_replay import V1_PAYLOAD

KV_SCHEMA = ("event_seq long, op string, doc_id string, tokens array<int>, "
             "n_tok int, source string")


def _choose(metrics, summaries, **kw):
    opts = dict(compact="auto", compact_files_per_bucket=4, mor="auto",
                mor_max_changed_fraction=0.05, bloom_ndv=None)
    return _choose_writes(metrics, summaries, **{**opts, **kw})


def _summary(keys, rows=None, n_files=1):
    return {"keys": keys, "rows": keys if rows is None else rows, "n_files": n_files}


# ------------------------------------------- choose writes (no Spark session)
def test_mor_threshold_uses_the_keys_stamp():
    """23 changed docs of 500 keys is under the 5% line, although the base
    files hold only 400 rows (delta-added keys)."""
    w = _choose({0: {"applied": 23, "new_keys": 0}}, {0: _summary(500, rows=400)})
    assert (w.mor, w.cow, w.changed) == ({0}, set(), {0: 23})
    w = _choose({0: {"applied": 26}}, {0: _summary(500)})
    assert (w.mor, w.cow) == (set(), {0})


def test_a_bucket_at_the_file_limit_makes_every_changed_bucket_cow():
    summaries = {0: _summary(1000, n_files=4), 1: _summary(1000)}
    w = _choose({0: {"applied": 1}, 1: {"deleted": 1}}, summaries)
    assert w.compacting and (w.mor, w.cow) == (set(), {0, 1})
    assert w.bucket_keys == {}
    w = _choose({0: {"applied": 1}, 1: {"deleted": 1}}, summaries, compact=False)
    assert not w.compacting and w.mor == {0, 1}


def test_a_bucket_without_base_rows_is_never_mor():
    for summaries in ({}, {0: _summary(0)}):
        w = _choose({0: {"applied": 3, "new_keys": 3}}, summaries, mor=True)
        assert (w.mor, w.cow, w.bucket_keys) == (set(), {0}, {})


def test_a_stale_only_batch_writes_and_stamps_nothing():
    w = _choose({0: {"applied": 0, "deleted": 0, "stale_winners": 5},
                 1: {"applied": None, "deleted": None}},
                {0: _summary(100), 1: _summary(100)})
    assert (w.changed, w.mor, w.cow, w.bucket_keys) == ({}, set(), set(), {})


def test_auto_bloom_ndv_is_the_largest_changed_bucket_with_a_floor():
    metrics = {0: {"applied": 10}, 1: {"applied": 30}, 2: {"applied": 0}}
    small = {0: _summary(100), 1: _summary(200), 2: _summary(5000)}
    assert _choose(metrics, small, bloom_ndv="auto").bloom_ndv == 1024
    big = {0: _summary(3000, rows=2000), 1: _summary(1500), 2: _summary(9000)}
    assert _choose(metrics, big, bloom_ndv="auto").bloom_ndv == 2010
    assert _choose(metrics, big, bloom_ndv=77).bloom_ndv == 77


def test_a_mor_bucket_is_stamped_keys_before_plus_new_keys():
    w = _choose({0: {"applied": 4, "deleted": 1, "new_keys": 3},
                 1: {"applied": 90, "new_keys": 90}},
                {0: _summary(200, rows=150), 1: _summary(100)})
    assert (w.mor, w.cow) == ({0}, {1})
    # the copy-on-write bucket is stamped by the commit, from its rows
    assert w.bucket_keys == {0: 203}


# ------------------------------------------------------- keys stamps (Spark)
def _kv_batch(spark, seq0, ids):
    return spark.createDataFrame(
        [(seq0 + j, "U", f"doc_{i:08d}", [1, 2], 2, "web")
         for j, i in enumerate(ids)],
        KV_SCHEMA,
    )


def test_keys_stamp_tracks_mor_added_keys(spark, tmp_path):
    """Manifest `keys` stamp = exact distinct doc_ids (incl. tombstones) even
    when merge-on-read deltas ADD keys — and the MOR threshold denominator
    uses it: 100 delta-added keys move the 5% line from 20 to 25, so a 23-doc
    dribble goes MOR where the old base-rows denominator forced COW."""
    table = create_empty_table(str(tmp_path / "t_keys"), V1_PAYLOAD, num_buckets=1)
    apply_batch(spark, table, _kv_batch(spark, 0, range(400)), 0,
                mor="auto", compact=False)
    assert table.bucket_summaries(table.manifest())[0]["keys"] == 400
    # 100 brand-new keys land as a forced delta: base files still hold 400
    # rows but the logical table is 500 keys
    apply_batch(spark, table, _kv_batch(spark, 1000, range(400, 500)), 1,
                mor=True, compact=False)
    assert table.bucket_summaries(table.manifest())[0]["keys"] == 500
    # 23 changed docs: 23 <= 0.05*500 (exact) but 23 > 0.05*400 (stale
    # base-rows denominator) — exact stamp keeps the dribble on the delta path
    lin = apply_batch(spark, table, _kv_batch(spark, 2000, range(23)), 2,
                      mor="auto", compact=False, compact_files_per_bucket=99)
    assert [r.get("write_mode") for r in lin] == ["mor"]
    assert table.bucket_summaries(table.manifest())[0]["keys"] == 500
    assert table.read(spark).count() == 500
    # deletes keep tombstone rows: keys counts them (stamp unchanged)
    d = spark.createDataFrame(
        [(3000, "D", "doc_00000000", None, None, "web")], KV_SCHEMA,
    )
    apply_batch(spark, table, d, 3, mor="auto", compact=False,
                compact_files_per_bucket=99)
    assert table.bucket_summaries(table.manifest())[0]["keys"] == 500
    assert table.read(spark).count() == 499  # default read hides the tombstone


def test_keys_stamp_required_for_deltas_and_compaction_restamp(spark, tmp_path):
    """A commit that adds delta entries without a key stamp is refused before
    it writes anything; the next compaction (one row per key by
    construction) re-stamps the bucket from its rows, and a tombstone purge
    is reflected in the stamp."""
    table = create_empty_table(str(tmp_path / "t_pre"), V1_PAYLOAD, num_buckets=1)
    apply_batch(spark, table, _kv_batch(spark, 0, range(100)), 0,
                mor="auto", compact=False)
    apply_batch(spark, table, _kv_batch(spark, 1000, range(100, 110)), 1,
                mor=True, compact=False)  # delta adds 10 new keys
    m = table.manifest()
    entries = list(table.files(manifest=m))
    assert any(e.get("kind") == "delta" for e in entries)
    blobs = sorted(os.listdir(table.fm_dir))
    with pytest.raises(ValueError, match="stamp"):
        table.commit(added_files=entries, replaced_buckets={0},
                     expected_parent=m["version"])
    assert table.current_version() == m["version"]
    assert sorted(os.listdir(table.fm_dir)) == blobs
    lin = apply_batch(spark, table, _kv_batch(spark, 2000, range(3)), 2,
                      mor="auto", compact=False, compact_files_per_bucket=99)
    assert [r.get("write_mode") for r in lin] == ["mor"]
    assert table.bucket_summaries(table.manifest())[0]["keys"] == 110
    assert table.read(spark).count() == 110
    # delete one doc, then compact with a purge horizon: the stamp is
    # re-derived from the compacted rows and reflects the purged tombstone
    d = spark.createDataFrame(
        [(3000, "D", "doc_00000005", None, None, "web")], KV_SCHEMA,
    )
    apply_batch(spark, table, d, 3, mor="auto", compact=False,
                compact_files_per_bucket=99)
    compact(spark, table, min_files=1, tombstone_horizon=3000)
    assert table.bucket_summaries(table.manifest())[0]["keys"] == 109
    assert table.read(spark).count() == 109


def test_keys_stamp_survives_split_and_carry(spark, tmp_path):
    """split_buckets re-stamps every output bucket (map-only rewrite is one
    row per key); untouched buckets carry their stamp verbatim across later
    commits, and rollback and publish_branch re-reference the stamped
    summaries of the snapshot they restore or publish."""
    table = create_empty_table(str(tmp_path / "t_spl"), V1_PAYLOAD, num_buckets=2)
    apply_batch(spark, table, _kv_batch(spark, 0, range(200)), 0,
                mor="auto", compact=False)
    split_buckets(spark, table, factor=2)
    summ = table.bucket_summaries(table.manifest())
    assert sum(s["keys"] for s in summ.values()) == 200
    per_bucket_before = dict(summ)
    # touch ONE bucket; the others' stamps must carry verbatim
    lin = apply_batch(spark, table, _kv_batch(spark, 1000, [0]), 1,
                      mor="auto", compact=False, compact_files_per_bucket=99)
    touched = {r["bucket"] for r in lin if r.get("write_mode")}
    summ2 = table.bucket_summaries(table.manifest())
    for b, s in summ2.items():
        if b not in touched:
            assert s["keys"] == per_bucket_before[b]["keys"]
    assert sum(s["keys"] for s in summ2.values()) == 200

    # a forced delta adds 5 keys; rolling back past it restores the stamps
    split_v = table.current_version() - 1
    apply_batch(spark, table, _kv_batch(spark, 2000, range(200, 205)), 2,
                mor=True, compact=False)
    assert sum(s["keys"] for s in table.bucket_summaries().values()) == 205
    table.rollback(split_v)
    assert table.bucket_summaries() == per_bucket_before

    # a branch's delta-added keys reach main with their stamps
    branch = table.create_branch("wap")
    apply_batch(spark, branch, _kv_batch(spark, 3000, range(300, 307)), 3,
                mor=True, compact=False)
    published = branch.bucket_summaries()
    assert sum(s["keys"] for s in published.values()) == 207
    table.publish_branch("wap")
    assert table.bucket_summaries() == published
    assert table.read(spark).count() == 207


# ------------------------------------------------------------- plan: schema
def test_apply_accepts_a_non_null_nested_payload(spark, tmp_path):
    """A batch whose ``tokens`` is ``array<int>`` with non-null elements
    (``F.array`` of literals) applies to an ``array<int>`` table with no
    schema change (it used to crash schema evolution on the nested type)."""
    table = create_empty_table(str(tmp_path / "t_nn"), V1_PAYLOAD, num_buckets=2)
    batch = spark.createDataFrame(
        [(1, "I", "doc_a", 2, "web"), (2, "I", "doc_b", 2, "code")],
        "event_seq long, op string, doc_id string, n_tok int, source string",
    ).withColumn("tokens", F.array(F.lit(1), F.lit(2)))
    assert not batch.schema["tokens"].dataType.containsNull
    apply_batch(spark, table, batch, 0)
    assert table.manifest()["schema_id"] == 0
    rows = sorted((r["doc_id"], list(r["tokens"])) for r in table.read(spark).collect())
    assert rows == [("doc_a", [1, 2]), ("doc_b", [1, 2])]

"""miniberg table-format tests (SURVEY.md §5.2 #2-4): atomic commits,
exactly-once idempotency, time travel, orphan invisibility, schema evolution,
disjoint-bucket rebase, stats and key-range skipping, merge-on-read deltas
(and the base-rows MOR threshold), auto-sized blooms, the bootstrap schema,
the one-read table diff, and the plan and Spark-job budget of the tail
apply."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recidiviz_data_spark.cdc.apply import apply_batch, apply_batches, create_empty_table
from recidiviz_data_spark.gen import gen_changelog
from recidiviz_data_spark.oracle import assert_state_equal, expected_state, expected_state_with_lang
from recidiviz_data_spark.plans.checks import assert_no_row_python, plan_string
from recidiviz_data_spark.sources.changelog import read_batch
from recidiviz_data_spark.tables.maintenance import compact, split_buckets
from recidiviz_data_spark.tables.miniberg import CommitConflict, Miniberg
from tests.test_replay import V1_PAYLOAD, table_state


def _mk_table(tmp_path, name, num_buckets=4):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("source", T.StringType(), True),
            T.StructField("_seq", T.LongType(), True),
            T.StructField("_deleted", T.BooleanType(), True),
        ]
    )
    return Miniberg.create(str(tmp_path / name), schema, num_buckets=num_buckets)


def _stage_file(table, bucket, rows):
    """Stage one parquet file of (doc_id, source, _seq, _deleted) rows into
    ``bucket`` and return its collected entries (footer stats recorded)."""
    staging = table.staging_dir()
    bdir = os.path.join(staging, f"_bucket={bucket}")
    os.makedirs(bdir)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows]),
                "source": pa.array([r[1] for r in rows]),
                "_seq": pa.array([r[2] for r in rows], type=pa.int64()),
                "_deleted": pa.array([False] * len(rows)),
            }
        ),
        os.path.join(bdir, "part-0.parquet"),
    )
    return table.collect_staged_files(staging, 0)


def test_time_travel_matches_oracle_per_batch(spark, changelog_plain, tmp_path):
    """Every snapshot version = oracle state folded up to that batch."""
    d, spec = changelog_plain
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, d)
    # version v (1-based after create) corresponds to batch v-1
    for v in range(1, table.current_version() + 1):
        batch = table.manifest(v)["last_applied_batch"]
        df = table.read(spark, version=v).selectExpr(
            "doc_id", "tokens", "CAST(n_tok AS BIGINT) AS n_tok", "source"
        )
        assert_state_equal(df.toPandas(), expected_state(d, upto_batch=batch))


def test_idempotent_reapply_is_noop(spark, changelog_plain, tmp_path):
    d, _ = changelog_plain
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, d)
    v = table.current_version()
    # re-apply an already-committed batch: no-op, no new snapshot
    out = apply_batch(spark, table, read_batch(spark, d, 0), 0)
    assert out == []
    assert table.current_version() == v


def test_crash_before_commit_leaves_no_trace(spark, changelog_plain, tmp_path):
    """Simulate a crash between the staging write and the manifest commit:
    data files exist on disk but no snapshot references them -> invisible,
    and a clean re-run produces the correct state."""
    d, _ = changelog_plain
    root = str(tmp_path / "t")
    table = create_empty_table(root, V1_PAYLOAD, num_buckets=4)
    apply_batch(spark, table, read_batch(spark, d, 0), 0)

    # "crash": stage batch 1's output straight into data/ without committing
    from pyspark.sql import functions as F

    orphan_df = read_batch(spark, d, 1).filter("op <> 'D'").limit(50)
    staging = table.staging_dir()
    orphan_df.withColumn("_bucket", F.lit(0)).write.partitionBy("_bucket").parquet(staging)
    for p in glob.glob(os.path.join(staging, "_bucket=0", "*.parquet")):
        os.rename(p, os.path.join(root, "data", "orphan-" + os.path.basename(p)))

    n_visible = table.read(spark).count()
    assert n_visible == len(expected_state(d, upto_batch=0))

    removed = table.gc_orphans(grace_seconds=0)
    assert removed, "orphan files should have been collected"

    # re-run from the watermark: final state correct
    apply_batches(spark, table, d)
    assert_state_equal(table_state(spark, table), expected_state(d))


def test_resume_from_checkpoint_new_process(spark, changelog_small, tmp_path):
    """Stop after batch 1; a NEW Miniberg handle (new process analog) resumes
    at batch 2 and converges to the uninterrupted state."""
    d, _ = changelog_small
    root = str(tmp_path / "t")
    t1 = create_empty_table(root, V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, t1, d, upto=1)
    assert t1.manifest()["last_applied_batch"] == 1

    t2 = Miniberg(root)  # fresh handle — reads watermark from the manifest
    apply_batches(spark, t2, d)
    assert_state_equal(
        table_state(spark, t2, with_lang=True), expected_state_with_lang(d)
    )


def test_commit_conflict_on_same_parent(tmp_path):
    root = str(tmp_path / "t")
    table = create_empty_table(root, V1_PAYLOAD, num_buckets=4)
    v = table.current_version()
    table.commit(added_files=[], last_applied_batch=0, expected_parent=v)
    # raw CAS (rebase disabled): the stale parent is detected and raised
    with pytest.raises(CommitConflict):
        table.commit(added_files=[], last_applied_batch=1, expected_parent=v,
                     rebase_retries=0)
    # default: a bucket-disjoint, watermark-advancing commit auto-rebases
    assert table.commit(added_files=[], last_applied_batch=1, expected_parent=v) == 2
    # watermark regress can never rebase
    with pytest.raises(CommitConflict):
        table.commit(added_files=[], last_applied_batch=1, expected_parent=v)


def test_schema_evolution_add_and_widen(spark, changelog_small, tmp_path):
    """Mid-log schema_ver bump: lang column appears, n_tok widens to long;
    old snapshots stay readable (time travel across schemas)."""
    d, _ = changelog_small
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, d)

    cur = table.spark_schema(include_internal=False)
    by_name = {f.name: f.dataType for f in cur.fields}
    assert isinstance(by_name["lang"], T.StringType)
    assert isinstance(by_name["n_tok"], T.LongType)

    # old snapshot (pre-bump) read under ITS schema: no lang, int n_tok
    m1 = table.manifest(1)
    old_fields = {f["name"]: f["type"] for f in m1["schemas"][str(m1["schema_id"])]["fields"]}
    assert "lang" not in old_fields
    assert old_fields["n_tok"] == "integer"
    assert table.read(spark, version=1).count() > 0

    # new reader over old+new files: v1 rows have null lang, values correct
    assert_state_equal(
        table_state(spark, table, with_lang=True), expected_state_with_lang(d)
    )


def test_incompatible_schema_change_rejected(tmp_path):
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    bad = T.StructType([T.StructField("n_tok", T.StringType(), True)])
    with pytest.raises(ValueError, match="incompatible"):
        table.evolve_schema(bad)


def test_manifest_is_sole_source_of_truth(tmp_path):
    """Every version file is immutable JSON; VERSION discovery = max(v*.json)."""
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    table.commit(added_files=[], last_applied_batch=0)
    paths = sorted(glob.glob(os.path.join(table.meta_dir, "v*.json")))
    assert len(paths) == 2
    for p in paths:
        m = json.load(open(p))
        assert m["format"] == "miniberg/2"
    assert table.manifest(0)["last_applied_batch"] == -1
    assert table.manifest(1)["last_applied_batch"] == 0


def test_manifest_of_another_format_is_refused(spark, tmp_path):
    """A root written in an older layout (here a miniberg/1 inline bucket
    map) holds no ``bucket_ranges``. Read as an empty table, it would let GC
    delete every live file, so every reader refuses it and GC removes
    nothing."""
    from tests.test_tombstones import write_batch

    cl = str(tmp_path / "cl")
    write_batch(cl, 0, [{"seq": i, "op": "I", "doc": f"d{i}", "tokens": [i]} for i in range(20)])
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, cl)
    for v in table.versions():
        m = table.manifest(v)
        old = {k: val for k, val in m.items() if k != "bucket_ranges"}
        old["format"] = "miniberg/1"
        old["buckets"] = {str(b): s for b, s in table.bucket_summaries(m).items()}
        os.unlink(table._vpath(v))
        with open(table._vpath(v), "w") as f:
            json.dump(old, f)

    def on_disk():
        return {p for d in (table.data_dir, table.fm_dir)
                for p in glob.glob(os.path.join(d, "*"))}

    before = on_disk()
    assert any(p.endswith(".parquet") for p in before)
    with pytest.raises(ValueError, match="miniberg/1"):
        table.gc_orphans(grace_seconds=0)
    with pytest.raises(ValueError, match="miniberg/1"):
        table.read(spark)
    assert on_disk() == before


def test_unchanged_buckets_reuse_sidecars(spark, tmp_path):
    """Content-addressed sidecars: a commit that replaces only SOME buckets
    must re-reference the untouched buckets' sidecar files verbatim (same
    path, no rewrite) — the O(buckets) commit property."""
    from tests.test_tombstones import write_batch

    cl = str(tmp_path / "cl")
    write_batch(cl, 0, [{"seq": i, "op": "I", "doc": f"d{i}", "tokens": [i]} for i in range(40)])
    write_batch(cl, 1, [{"seq": 100, "op": "U", "doc": "d0", "tokens": [9]}])
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=8)
    apply_batches(spark, table, cl, upto=0)
    s1 = table.bucket_summaries(table.manifest())
    apply_batches(spark, table, cl)  # batch 1 touches d0's bucket ONLY
    s2 = table.bucket_summaries(table.manifest())
    untouched = [bk for bk in s1 if bk in s2 and s2[bk] == s1[bk]]
    replaced = [bk for bk in s2 if s2[bk] != s1.get(bk)]
    assert len(replaced) == 1, (replaced, untouched)
    assert len(untouched) == len(s1) - 1
    for bk in untouched:
        assert s2[bk]["path"] == s1[bk]["path"]


def test_point_lookup_skips_files_by_key_range(spark, tmp_path):
    """Manifest key-range stats (footer min/max recorded at write time)
    must let a point lookup skip files that cannot contain the key, and
    the pruned read must equal the full-scan filter."""
    from tests.test_tombstones import write_batch

    cl = str(tmp_path / "cl")
    # two disjoint doc_id ranges arriving in separate batches -> each
    # bucket holds one file per batch with a NARROW key range
    write_batch(cl, 0, [{"seq": i, "op": "I", "doc": f"d{i:03d}", "tokens": [i]}
                        for i in range(20)])
    write_batch(cl, 1, [{"seq": 100 + i, "op": "I", "doc": f"d{100 + i:03d}", "tokens": [i]}
                        for i in range(20)])
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=2)
    # compact='auto' would merge the narrow files back together — keep them
    apply_batches(spark, table, cl, compact=False)

    files = table.files()
    assert all("key_min" in f for f in files), files
    # the lookup key lives only in batch 1's files
    kept = Miniberg.files_for_keys(files, ["d105"])
    assert kept and all(f["key_min"] >= "d100" for f in kept), kept
    assert len(kept) < len(files), (len(kept), len(files))

    got = table.read_keys(spark, ["d105"]).collect()
    assert len(got) == 1 and got[0]["doc_id"] == "d105"
    # pruned result == unpruned filter, including multi-key across batches
    want = {r["doc_id"] for r in table.read(spark).filter(
        "doc_id IN ('d003', 'd105', 'nope')").collect()}
    got2 = {r["doc_id"] for r in table.read_keys(spark, ["d003", "d105", "nope"]).collect()}
    assert got2 == want == {"d003", "d105"}


def test_point_lookup_sees_tombstones_only_when_internal(spark, tmp_path):
    from tests.test_tombstones import write_batch

    cl = str(tmp_path / "cl")
    write_batch(cl, 0, [{"seq": 1, "op": "I", "doc": "a", "tokens": [1]},
                        {"seq": 2, "op": "I", "doc": "b", "tokens": [2]}])
    write_batch(cl, 1, [{"seq": 10, "op": "D", "doc": "a"}])
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=2)
    apply_batches(spark, table, cl)
    assert table.read_keys(spark, ["a"]).count() == 0  # tombstoned
    internal = table.read_keys(spark, ["a"], include_internal=True).collect()
    assert len(internal) == 1 and internal[0]["_deleted"] is True


def test_rollback_restores_state_and_replays(spark, changelog_small, tmp_path):
    """rollback(v) = one O(buckets) metadata commit re-referencing v's
    sidecars; state equals the old snapshot, the watermark reverts, and
    re-tailing the changelog replays forward to the correct final state
    (the time-travel + reprocess workflow). changelog_small includes a
    mid-log schema bump, so this also proves a post-rollback re-evolution
    never redefines a historical schema id."""
    d, _ = changelog_small
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, d)
    v_final = table.current_version()
    ids_before = set(table.manifest()["schemas"])

    v_restore = 1  # after batch 0, before the schema bump
    rb = table.rollback(v_restore)
    assert rb == v_final + 1
    assert table.manifest()["last_applied_batch"] == table.manifest(v_restore)["last_applied_batch"]
    assert_state_equal(
        table_state(spark, table),
        expected_state(d, upto_batch=table.manifest(v_restore)["last_applied_batch"]),
    )
    # rollback moved zero data: its buckets reference v_restore's sidecars
    assert table.bucket_summaries(table.manifest()) == table.bucket_summaries(
        table.manifest(v_restore)
    )

    # replay forward: re-applies every later batch, converges, and any
    # re-evolved schema got a FRESH id (historical ids never redefined)
    apply_batches(spark, table, d)
    assert_state_equal(
        table_state(spark, table, with_lang=True), expected_state_with_lang(d)
    )
    ids_after = set(table.manifest()["schemas"])
    assert ids_before <= ids_after


def test_table_changes_between_versions(spark, changelog_plain, tmp_path):
    """Change-data-feed: table_changes(v1, v2) emits exactly the I/U/D set
    that the differ-apply identity guarantees — applying it to v1 rebuilds
    v2 (spot-checked via op counts and key membership)."""
    d, _ = changelog_plain
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, d)
    v2 = table.current_version()
    v1 = v2 - 1
    changes = table.table_changes(spark, v1, v2).collect()
    assert changes, "consecutive snapshots should differ"
    old_keys = {r["doc_id"] for r in table.read(spark, version=v1).select("doc_id").collect()}
    new_keys = {r["doc_id"] for r in table.read(spark, version=v2).select("doc_id").collect()}
    for r in changes:
        if r["op"] == "I":
            assert r["doc_id"] in new_keys - old_keys
        elif r["op"] == "D":
            assert r["doc_id"] in old_keys - new_keys
        else:
            assert r["op"] == "U" and r["doc_id"] in old_keys & new_keys
    # completeness: every membership change appears
    assert {r["doc_id"] for r in changes if r["op"] == "I"} == new_keys - old_keys
    assert {r["doc_id"] for r in changes if r["op"] == "D"} == old_keys - new_keys


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _commit_bucketed(spark, table, schema, rows, *, n_files, kind=None):
    """Commit ``rows`` as files bucketed by Spark's own ``bucket_col`` (not
    the driver hash under test): ``n_files`` write tasks each emit one file
    per bucket they hold. ``kind="delta"`` marks them merge-on-read deltas,
    which update existing keys (each bucket keeps its ``keys`` stamp)."""
    staging = table.staging_dir()
    (spark.createDataFrame(rows, schema).repartition(n_files)
     .withColumn("_bucket", table.bucket_col())
     .write.partitionBy("_bucket").parquet(staging))
    added = table.collect_staged_files(staging, table.manifest()["schema_id"])
    keys = None
    if kind:
        for e in added:
            e["kind"] = kind
        summ = table.bucket_summaries()
        keys = {e["bucket"]: summ[e["bucket"]]["keys"] for e in added}
    table.commit(added_files=added, replaced_buckets=set(), bucket_keys=keys)


def test_table_reads_start_no_spark_job(spark, tmp_path):
    """Building a table read starts no Spark job: the manifest already names
    every file, so more than 32 explicit paths must not trigger Spark's
    parallel listing job, and ``read_keys`` hashes its keys to buckets on the
    driver instead of collecting them from Spark."""
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType()),
        T.StructField("_seq", T.LongType()),
        T.StructField("_deleted", T.BooleanType()),
    ])
    rows = [(f"d{i:04d}", i, 0, False) for i in range(400)]
    table = Miniberg.create(str(tmp_path / "t"), schema, num_buckets=4)
    _commit_bucketed(spark, table, schema, rows, n_files=12)
    _commit_bucketed(spark, table, schema, [("d0007", -7, 1, False)], n_files=1,
                     kind="delta")
    files = table.files()
    deltas = [f for f in files if f.get("kind") == "delta"]
    assert len(files) > 32 and deltas, (len(files), len(deltas))
    delta_bucket = deltas[0]["bucket"]
    assert len(table.files(buckets=[delta_bucket])) > 1

    before = _next_job_id(spark)
    full = table.read(spark)
    pruned = table.read(spark, buckets=[delta_bucket])
    keyed = table.read_keys(spark, ["d0007", "d0123"])
    assert _next_job_id(spark) == before

    assert full.count() == 400
    got = {r["doc_id"]: r["val"] for r in keyed.collect()}
    assert got == {"d0007": -7, "d0123": 123}
    assert pruned.filter("doc_id = 'd0007'").first()["val"] == -7


def test_key_bucket_matches_spark_pmod_xxhash64(spark):
    """The driver-side bucket hash equals Spark's ``pmod(xxhash64(k), n)``
    for string keys of every byte length 0-100 (the 32-byte stripe and the
    8/4/1-byte tails), multibyte UTF-8, and int/long keys at their extremes."""
    from pyspark.sql import functions as F

    mixed = "aé漢😀"
    strings = ["", "doc_00000042"]
    for n in range(101):
        strings.append("".join(chr(33 + (i * 7 + n) % 90) for i in range(n)))
        strings.append("".join(mixed[(i + n) % len(mixed)] for i in range(n)))
    ints = [0, 1, -1, 42, -42, 7, 2**31 - 1, -(2**31), 123456789, -987654321]
    longs = ints + [2**31, -(2**31) - 1, 2**63 - 1, -(2**63), 2**40 + 3, -(2**52)]
    ns = (1, 7, 32, 10_001)
    for dtype, keys in ((T.StringType(), strings), (T.IntegerType(), ints),
                        (T.LongType(), longs)):
        df = spark.createDataFrame([(k,) for k in keys],
                                   T.StructType([T.StructField("k", dtype)]))
        rows = df.select(
            "k", *[F.pmod(F.xxhash64("k"), F.lit(n)).alias(f"b{n}") for n in ns]
        ).collect()
        assert len(rows) == len(keys)
        for r in rows:
            for n in ns:
                assert Miniberg.key_bucket(r["k"], dtype, n) == r[f"b{n}"], (
                    dtype, r["k"], n)
    with pytest.raises(ValueError, match="double"):
        Miniberg.key_bucket(1.5, T.DoubleType(), 4)
    with pytest.raises(ValueError, match="does not fit"):
        Miniberg.key_bucket("a", T.LongType(), 4)


def test_read_keys_on_a_long_key_table(spark, tmp_path):
    """``read_keys`` on a LongType key (the ``vec_id`` shape) finds each key
    in the bucket Spark wrote it to, negatives and the long extremes too."""
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("label", T.StringType()),
        T.StructField("v", T.ArrayType(T.LongType())),
    ])
    ids = list(range(-40, 40)) + [2**63 - 1, -(2**63), 2**40]
    rows = [(i, f"l{i % 3}", [i % 13, -6]) for i in ids]
    table = Miniberg.create(str(tmp_path / "vecs"), schema, key_col="vec_id",
                            num_buckets=7)
    _commit_bucketed(spark, table, schema, rows, n_files=3)
    want = [-(2**63), -17, 0, 5, 2**40, 2**63 - 1]
    got = table.read_keys(spark, want + [10**6]).collect()
    assert sorted(r["vec_id"] for r in got) == want
    assert {r["vec_id"]: r["label"] for r in got} == {i: f"l{i % 3}" for i in want}


# ------------------------------------------------------- range manifests
def test_range_layout_commit_read_and_carry(spark, tmp_path):
    """The root stores bucket-RANGE manifests: commits round-trip a
    ~sqrt(B)-entry root, reads resolve bucket -> range -> sidecar, and an
    incremental commit carries every untouched range verbatim (same
    content-addressed path — zero writes)."""
    table = _mk_table(tmp_path, "t_ranges", num_buckets=32)
    m0 = table.manifest()
    assert m0["bucket_ranges"] == {"size": 5, "ranges": {}}  # isqrt(32)

    added = []
    for b in (0, 3, 7, 14, 21, 31):
        added += _stage_file(table, b, [(f"d{b}_{i}", "web", b * 10 + i) for i in range(3)])
    table.commit(added_files=added, replaced_buckets=set())
    m1 = table.manifest()
    # root is O(ranges): 6 buckets spread over ranges {0,5,10,20,30}
    assert set(m1["bucket_ranges"]["ranges"]) == {"0", "5", "10", "20", "30"}
    assert table.read(spark).count() == 18
    # pruned read: one bucket -> one range manifest -> one sidecar
    fs = table.files(buckets=[14])
    assert len(fs) == 1 and fs[0]["bucket"] == 14
    summ = table.bucket_summaries(m1)
    assert set(summ) == {0, 3, 7, 14, 21, 31}
    assert all(s["rows"] == 3 for s in summ.values())

    # incremental commit replacing bucket 14: ONLY its range path changes
    add2 = _stage_file(table, 14, [("d14_new", "web", 999)])
    table.commit(added_files=add2, replaced_buckets={14})
    m2 = table.manifest()
    r1, r2 = m1["bucket_ranges"]["ranges"], m2["bucket_ranges"]["ranges"]
    assert r2["10"]["path"] != r1["10"]["path"]
    for lo in ("0", "5", "20", "30"):
        assert r2[lo]["path"] == r1[lo]["path"]  # carried verbatim
    assert table.read(spark).count() == 16  # bucket 14 replaced (3 -> 1)
    # delta-path append into a carried bucket merges its sidecar
    add3 = _stage_file(table, 7, [("d7_extra", "web", 1000)])
    table.commit(added_files=add3, replaced_buckets=set())
    assert len(table.files(buckets=[7])) == 2
    assert table.read(spark).count() == 17


def test_range_layout_rollback_and_timetravel(spark, tmp_path):
    """Old snapshots stay readable after an incremental commit, and
    rollback restores an old snapshot as a new version that re-references
    its range manifests verbatim."""
    table = _mk_table(tmp_path, "t_rollback", num_buckets=32)
    added = []
    for b in (1, 9, 30):
        added += _stage_file(table, b, [(f"a{b}_{i}", "web", i) for i in range(2)])
    v1 = table.commit(added_files=added, replaced_buckets=set())

    add2 = _stage_file(table, 9, [("a9_new", "web", 50)])
    v2 = table.commit(added_files=add2, replaced_buckets={9})
    assert table.read(spark).count() == 5  # 2+2 carried + 1 replacing bucket 9
    assert table.read(spark, version=v1).count() == 6  # time travel intact

    v3 = table.rollback(v1)
    assert v3 == v2 + 1
    assert table.manifest(v3)["bucket_ranges"] == table.manifest(v1)["bucket_ranges"]
    assert table.read(spark).count() == 6


def test_range_layout_rebase_and_conflicts(tmp_path):
    """Disjoint-bucket optimistic rebase works across range manifests (the
    root diff loads only DIFFERING ranges); overlapping buckets still
    conflict."""
    table = _mk_table(tmp_path, "t_rebase", num_buckets=32)
    base = []
    for b in (2, 12, 22):
        base += _stage_file(table, b, [(f"b{b}", "web", 1)])
    v1 = table.commit(added_files=base, replaced_buckets=set())

    # writer A commits bucket 2 first; writer B (parent=v1) touches bucket 22
    a = _stage_file(table, 2, [("b2_a", "web", 2)])
    table.commit(added_files=a, replaced_buckets={2}, expected_parent=v1)
    b_files = _stage_file(table, 22, [("b22_b", "web", 2)])
    v3 = table.commit(added_files=b_files, replaced_buckets={22}, expected_parent=v1)
    assert v3 == v1 + 2  # rebased onto A's commit
    # overlapping race is a REAL conflict
    c1 = _stage_file(table, 12, [("b12_c", "web", 3)])
    table.commit(added_files=c1, replaced_buckets={12})
    c2 = _stage_file(table, 12, [("b12_d", "web", 3)])
    with pytest.raises(CommitConflict):
        table.commit(added_files=c2, replaced_buckets={12}, expected_parent=v3)


def test_range_layout_gc_pins_range_manifests(tmp_path):
    """gc_orphans keeps range manifests and the sidecars they reference
    (both live under meta/fm/) while removing genuinely orphaned blobs."""
    table = _mk_table(tmp_path, "t_gc", num_buckets=32)
    added = _stage_file(table, 4, [("g1", "web", 1)])
    table.commit(added_files=added, replaced_buckets=set())
    orphan = os.path.join(table.fm_dir, "deadbeefdeadbeefdeadbeefdeadbeef.json")
    with open(orphan, "w") as f:
        f.write("[]")
    os.utime(orphan, (1, 1))
    removed = table.gc_orphans(grace_seconds=0)
    assert orphan in removed
    # every referenced blob survives and the table still reads
    assert table.files(buckets=[4])
    live = set(glob.glob(os.path.join(table.fm_dir, "*.json")))
    assert live and orphan not in live


def test_range_layout_full_apply_path(spark, tmp_path):
    """The real engine path (create -> apply_batch -> read) at 10,001
    buckets: apply's bucket-pruned MERGE, summaries and lineage all go
    through the range hop, and the root stays KiB-scale."""
    table = create_empty_table(str(tmp_path / "t_bigbuckets"), V1_PAYLOAD,
                               num_buckets=10_001)
    assert table.manifest()["bucket_ranges"]["size"] == 100
    rows = [
        (0, "I", "doc_a", [1, 2, 3], 3, "web"),
        (1, "I", "doc_b", [4, 5], 2, "web"),
        (2, "U", "doc_a", [7, 8, 9, 10], 4, "web"),
        (3, "D", "doc_b", None, None, "web"),
    ]
    batch = spark.createDataFrame(
        rows,
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string",
    )
    apply_batch(spark, table, batch, 0)
    state = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert list(state) == ["doc_a"] and state["doc_a"]["tokens"] == [7, 8, 9, 10]
    # root stays KiB-scale: one range entry per touched range, not per bucket
    m = table.manifest()
    assert len(m["bucket_ranges"]["ranges"]) <= 2
    assert os.path.getsize(table._vpath(m["version"])) < 4096


# ------------------------------------- commit rebase, stats and key skipping
def test_disjoint_bucket_commit_rebase(tmp_path):
    """Two writers committing to DISJOINT buckets from the same parent both
    land (the loser auto-rebases); overlapping buckets and watermark
    movement still conflict."""
    table = _mk_table(tmp_path, "t_rebase")
    v0 = table.current_version()
    e_b0 = _stage_file(table, 0, [("a", "web", 1)])
    e_b1 = _stage_file(table, 1, [("b", "web", 1)])
    assert table.commit(added_files=e_b0, replaced_buckets={0}, expected_parent=v0) == 1
    # stale parent, disjoint bucket: rebases internally, no caller replay
    assert table.commit(added_files=e_b1, replaced_buckets={1}, expected_parent=v0) == 2
    paths = {f["path"] for f in table.files()}
    assert {e["path"] for e in e_b0 + e_b1} <= paths
    # overlap: bucket 1 was just touched -> a stale-parent commit to it raises
    e_b1b = _stage_file(table, 1, [("c", "web", 2)])
    with pytest.raises(CommitConflict):
        table.commit(added_files=e_b1b, replaced_buckets={1}, expected_parent=v0)
    # watermark: once batch 3 is applied, a stale-parent batch-3 commit raises
    e_b2 = _stage_file(table, 2, [("d", "web", 3)])
    v3 = table.commit(added_files=e_b2, replaced_buckets={2}, last_applied_batch=3)
    e_b3 = _stage_file(table, 3, [("e", "web", 4)])
    with pytest.raises(CommitConflict):
        table.commit(added_files=e_b3, replaced_buckets={3},
                     last_applied_batch=3, expected_parent=v3 - 1)


def test_secondary_stats_skipping(spark, tmp_path):
    """Files whose recorded footer min/max exclude the predicate range are
    not opened: a source='code' read over a table whose 'web' rows live in
    other files prunes those files at the manifest level AND returns the
    exact rows."""
    table = _mk_table(tmp_path, "t_stats")
    added = []
    added += _stage_file(table, 0, [(f"w{i}", "web", i) for i in range(5)])
    added += _stage_file(table, 1, [(f"c{i}", "code", 10 + i) for i in range(5)])
    added += _stage_file(table, 2, [(f"b{i}", "books", 20 + i) for i in range(5)])
    table.commit(added_files=added, replaced_buckets=set())
    files = table.files()
    assert all("stats" in f and "source" in f["stats"] for f in files)

    kept = table.files_for_stats(files, {"source": ("code", "code")})
    assert len(kept) == 1 and kept[0]["stats"]["source"] == ["code", "code"]
    rows = table.read(spark, stats_filter={"source": ("code", "code")}).collect()
    assert sorted(r["doc_id"] for r in rows) == [f"c{i}" for i in range(5)]
    # range predicate on _seq: only the middle file survives
    kept_seq = table.files_for_stats(files, {"_seq": (10, 14)})
    assert len(kept_seq) == 1
    # unbounded side + type-mismatch bounds are conservative (no crash)
    assert len(table.files_for_stats(files, {"source": (None, "code")})) == 2
    assert len(table.files_for_stats(files, {"source": (5, 7)})) == 3

    # a bucket with delta files is never pruned (MOR resolution needs base)
    files_d = [dict(f) for f in files]
    files_d[0]["kind"] = "delta"
    assert len(table.files_for_stats(files_d, {"source": ("code", "code")})) == 2


def test_read_keys_with_stats_filter(spark, tmp_path):
    """Point lookup + secondary predicate: key skipping and stats skipping
    compose, and the residual filter is exact."""
    table = _mk_table(tmp_path, "t_rks")
    added = _stage_file(table, 0, [("a", "web", 1), ("b", "code", 2)])
    added += _stage_file(table, 1, [("c", "books", 3)])
    table.commit(added_files=added, replaced_buckets=set())
    got = table.read_keys(spark, ["a", "b"], stats_filter={"source": ("code", "code")})
    assert [r["doc_id"] for r in got.collect()] == ["b"]


# ------------------------------------------------------- merge-on-read (MOR)
def test_mor_forced_replay_equality(spark, changelog_small, tmp_path):
    """Forced merge-on-read (every eligible bucket writes deltas, never a
    rewrite) must reproduce the LWW-fold oracle exactly — deletes become
    delta tombstones, stale replays stay dead, the mid-log schema bump
    lands in delta files read against older base files."""
    d, _ = changelog_small
    table = create_empty_table(str(tmp_path / "t_mor"), V1_PAYLOAD, num_buckets=8)
    apply_batches(spark, table, d, mor=True, compact=False)
    kinds = [f.get("kind") for f in table.files()]
    assert "delta" in kinds, "forced MOR produced no delta entries"
    assert_state_equal(
        table_state(spark, table, with_lang=True), expected_state_with_lang(d)
    )


def test_mor_autocompact_folds_deltas(spark, changelog_small, tmp_path):
    """With compact='auto', delta depth is bounded: once a bucket hits the
    file threshold the next write COWs it, folding deltas into base files.
    Equality must survive the fold."""
    d, _ = changelog_small
    table = create_empty_table(str(tmp_path / "t_morc"), V1_PAYLOAD, num_buckets=8)
    apply_batches(spark, table, d, mor=True, compact="auto", compact_files_per_bucket=3)
    summ = table.bucket_summaries(table.manifest())
    assert summ and all(s["n_files"] <= 3 for s in summ.values()), summ
    assert_state_equal(
        table_state(spark, table, with_lang=True), expected_state_with_lang(d)
    )


def test_mor_point_lookup_and_tombstone(spark, changelog_plain, tmp_path):
    """read_keys on a MOR table resolves deltas: an updated key returns its
    newest payload, a deleted key disappears (tombstone delta wins over the
    live base row)."""
    d, _ = changelog_plain
    table = create_empty_table(str(tmp_path / "t_morp"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, d)
    live = table.read(spark).select("doc_id").limit(2).collect()
    k_upd, k_del = live[0][0], live[1][0]
    batch = spark.createDataFrame(
        [
            (10_000_000, "U", k_upd, [7, 7, 7], 3, "web"),
            (10_000_001, "D", k_del, None, None, None),
        ],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string",
    )
    apply_batch(spark, table, batch, table.manifest()["last_applied_batch"] + 1,
                mor=True, compact=False)
    assert any(f.get("kind") == "delta" for f in table.files())
    got = {r["doc_id"]: r for r in table.read_keys(spark, [k_upd, k_del]).collect()}
    assert list(got) == [k_upd] and got[k_upd]["tokens"] == [7, 7, 7]
    # stale replay AFTER the tombstone must not resurrect the doc
    stale = spark.createDataFrame(
        [(1, "U", k_del, [9], 1, "web")],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string",
    )
    apply_batch(spark, table, stale, table.manifest()["last_applied_batch"] + 1,
                mor=True, compact=False)
    assert table.read(spark).filter(F.col("doc_id") == k_del).count() == 0
    # the MOR-resolved read plan stays JVM-side and join-sane
    resolved = table.read(spark)
    p = plan_string(resolved)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert_no_row_python(resolved)


def test_split_buckets_folds_mor_deltas(spark, changelog_plain, tmp_path):
    """Bucket split reads through MOR resolution and replaces every bucket,
    so delta files fold away and state is preserved across the re-bucket."""
    d, _ = changelog_plain
    table = create_empty_table(str(tmp_path / "t_split"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, d, mor=True, compact=False)
    assert any(f.get("kind") == "delta" for f in table.files())
    before = table_state(spark, table).sort_values("doc_id").reset_index(drop=True)
    split_buckets(spark, table, factor=2)
    assert table.manifest()["num_buckets"] == 8
    assert not any(f.get("kind") == "delta" for f in table.files())
    after = table_state(spark, table).sort_values("doc_id").reset_index(drop=True)
    assert before.drop(columns=["tokens"]).equals(after.drop(columns=["tokens"]))
    assert (before.tokens.map(tuple) == after.tokens.map(tuple)).all()


def test_mor_write_amplification(spark, tmp_path):
    """A 1%-change dribble batch under MOR writes < 10% of the bytes the
    copy-on-write rewrite would, and both modes read back identically."""
    cl = str(tmp_path / "cl")
    gen_changelog(cl, n_docs=4000, n_events=4000, n_batches=1, delete_rate=0.0)
    base_root = str(tmp_path / "t_base")
    table = create_empty_table(base_root, V1_PAYLOAD, num_buckets=8)
    apply_batches(spark, table, cl)
    cow_root = str(tmp_path / "t_cow")
    shutil.copytree(base_root, cow_root)

    batch = spark.createDataFrame(
        [
            (1_000_000 + i, "U", f"doc_{i:08d}", [1, 2, 3], 3, "web")
            for i in range(0, 4000, 100)  # 40 docs = 1%
        ],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string",
    )

    def added_bytes(t, **kw):
        before = {f["path"] for f in t.files()}
        apply_batch(spark, t, batch, t.manifest()["last_applied_batch"] + 1,
                    compact=False, **kw)
        return sum(f["bytes"] for f in t.files() if f["path"] not in before)

    mor_b = added_bytes(table, mor="auto")
    cow_b = added_bytes(Miniberg(cow_root), mor=False)
    assert any(f.get("kind") == "delta" for f in table.files()), "auto MOR did not fire"
    assert mor_b < 0.1 * cow_b, (mor_b, cow_b)
    a = table_state(spark, table).sort_values("doc_id").reset_index(drop=True)
    b = table_state(spark, Miniberg(cow_root)).sort_values("doc_id").reset_index(drop=True)
    assert a.drop(columns=["tokens"]).equals(b.drop(columns=["tokens"]))
    assert (a.tokens.map(tuple) == b.tokens.map(tuple)).all()


def test_bloom_filter_written_and_reads_exact(spark, tmp_path):
    """bloom_ndv writes a parquet-native bloom on the key column (file grows
    by the bloom bytes); point lookups stay exact. Compaction can add blooms
    too."""
    batch = spark.createDataFrame(
        [(i, "I", f"doc_{i:08d}", [1, 2], 2, "web") for i in range(2000)],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string",
    )
    t1 = create_empty_table(str(tmp_path / "t_bloom"), V1_PAYLOAD, num_buckets=2)
    t2 = create_empty_table(str(tmp_path / "t_plain"), V1_PAYLOAD, num_buckets=2)
    apply_batch(spark, t1, batch, 0, bloom_ndv=2000)
    apply_batch(spark, t2, batch, 0)
    b1 = sum(f["bytes"] for f in t1.files())
    b2 = sum(f["bytes"] for f in t2.files())
    assert b1 > b2 + 1000, (b1, b2)  # bloom bytes actually landed
    got = t1.read_keys(spark, ["doc_00000042"]).collect()
    assert len(got) == 1 and got[0]["n_tok"] == 2
    assert compact(spark, t2, min_files=1, bloom_ndv=2000) is not None
    b2c = sum(f["bytes"] for f in t2.files())
    assert b2c > b2 + 1000, (b2c, b2)
    assert t2.read_keys(spark, ["doc_00000042"]).count() == 1


def test_files_for_keys_type_guard(tmp_path):
    """Mismatched key type vs recorded stats raises a clear ValueError
    instead of a bare TypeError mid-comparison."""
    table = _mk_table(tmp_path, "t_guard")
    added = _stage_file(table, 0, [("a", "web", 1)])
    table.commit(added_files=added, replaced_buckets=set())
    with pytest.raises(ValueError, match="recorded stats type"):
        Miniberg.files_for_keys(table.files(), [42])


def test_compact_sized_files_disjoint_key_ranges(spark, tmp_path):
    """compact(max_records_per_file=N, sort=True) splits a bucket into
    size-capped files whose key ranges are DISJOINT — a point lookup then
    opens exactly one file of the bucket."""
    table = create_empty_table(str(tmp_path / "t_sized"), V1_PAYLOAD, num_buckets=2)
    batch = spark.createDataFrame(
        [(i, "I", f"doc_{i:08d}", [1], 1, "web") for i in range(1200)],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string",
    )
    apply_batch(spark, table, batch, 0)
    assert compact(spark, table, min_files=1, max_records_per_file=200) is not None
    by_bucket: dict[int, list] = {}
    for f in table.files():
        by_bucket.setdefault(f["bucket"], []).append(f)
    for b, fs in by_bucket.items():
        assert len(fs) >= 2, (b, fs)  # the size cap actually split
        ranges = sorted((f["key_min"], f["key_max"]) for f in fs)
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2, (b, ranges)  # disjoint
    # point lookup prunes to ONE file of the key's bucket
    key = "doc_00000042"
    m = table.manifest()
    bucket = spark.createDataFrame([(key,)], "doc_id string").selectExpr(
        f"CAST(pmod(xxhash64(doc_id), {m['num_buckets']}) AS INT) b"
    ).collect()[0]["b"]
    kept = Miniberg.files_for_keys(table.files(buckets=[bucket]), [key])
    assert len(kept) == 1
    assert table.read_keys(spark, [key]).count() == 1


# ---------------------------------------------- the all-merge-on-read apply
# Spark jobs of one apply_batch of ``_all_mor_batch`` per write mode,
# measured at local[8] (the all-MOR apply that still read an empty
# copy-on-write side, through a Python-backed empty relation, ran 8)
ALL_MOR_APPLY_JOB_BUDGET = 7
COW_APPLY_JOB_BUDGET = 8
COMPACTING_APPLY_JOB_BUDGET = 8


def _all_mor_batch(spark, tmp_path):
    """A 4-bucket table of 400 docs (one base file per bucket) and batch 1
    of its changelog, read from parquet as a tail reads it: two updates,
    under the 5% merge-on-read threshold of their buckets, so every changed
    bucket gets a delta file and none is rewritten copy-on-write."""
    cl = str(tmp_path / "cl")

    def write(batch_id, rows):
        bdir = os.path.join(cl, f"batch_id={batch_id}")
        os.makedirs(bdir)
        pq.write_table(pa.table({
            "event_seq": pa.array([r[0] for r in rows], pa.int64()),
            "op": [r[1] for r in rows],
            "doc_id": [r[2] for r in rows],
            "tokens": pa.array([r[3] for r in rows], pa.list_(pa.int32())),
            "n_tok": pa.array([r[4] for r in rows], pa.int32()),
            "source": [r[5] for r in rows],
        }), os.path.join(bdir, "part-0.parquet"))

    write(0, [(i, "I", f"doc_{i:04d}", [i], 1, "web") for i in range(400)])
    write(1, [(1000, "U", "doc_0007", [7, 7], 2, "code"),
              (1001, "U", "doc_0123", [1], 1, "books")])
    table = create_empty_table(str(tmp_path / "t_allmor"), V1_PAYLOAD, num_buckets=4)
    apply_batch(spark, table, read_batch(spark, cl, 0), 0)
    return table, read_batch(spark, cl, 1)


def _python_legs(df) -> list[str]:
    """Nodes of ``df``'s optimized and physical plans that move rows across
    the Python/JVM boundary: a ``LogicalRDD``/``ExistingRDD`` leaf (what
    ``spark.createDataFrame`` of local rows plans; each of its tasks starts
    a Python worker) or any Python evaluation node."""
    qe = df._jdf.queryExecution()
    plans = qe.optimizedPlan().toString() + qe.sparkPlan().toString()
    return [n for n in ("LogicalRDD", "ExistingRDD", "Python") if n in plans]


def test_empty_reads_and_all_mor_write_plan_have_no_python_leg(
    spark, tmp_path, monkeypatch
):
    """An empty read is a JVM-only empty relation with the table's exact
    user or internal schema (nullability included), and the DataFrame an
    all-merge-on-read apply writes holds no Python-backed leg: the apply
    reads no copy-on-write side when no changed bucket is copy-on-write."""
    table, batch = _all_mor_batch(spark, tmp_path)
    for internal in (False, True):
        empty = table.read(spark, buckets=[], include_internal=internal)
        assert empty.schema == table.spark_schema(include_internal=internal)
        assert _python_legs(empty) == []
        assert empty.count() == 0

    written = []
    real = Miniberg.write_staged

    def record(self, df, *a, **kw):
        written.append(df)
        return real(self, df, *a, **kw)

    monkeypatch.setattr(Miniberg, "write_staged", record)
    lineage = apply_batch(spark, table, batch, 1)
    assert [r["write_mode"] for r in lineage if "write_mode" in r] == ["mor"] * 2
    assert len(written) == 1 and _python_legs(written[0]) == []
    got = {r["doc_id"]: r["source"] for r in
           table.read_keys(spark, ["doc_0007", "doc_0123", "doc_0008"]).collect()}
    assert got == {"doc_0007": "code", "doc_0123": "books", "doc_0008": "web"}


@pytest.mark.parametrize("kw,mode,budget", [
    ({}, "mor", ALL_MOR_APPLY_JOB_BUDGET),
    ({"mor": False}, "cow", COW_APPLY_JOB_BUDGET),
    ({"compact_files_per_bucket": 1}, "cow", COMPACTING_APPLY_JOB_BUDGET),
], ids=["all_mor", "cow", "compacting"])
def test_apply_spark_job_budget(spark, tmp_path, kw, mode, budget):
    """One apply_batch runs at most the measured number of Spark jobs
    (counted by the DAG scheduler's next job id) in each write mode:
    all merge-on-read, copy-on-write, and a compacting rewrite."""
    table, batch = _all_mor_batch(spark, tmp_path)
    before = _next_job_id(spark)
    lineage = apply_batch(spark, table, batch, 1, **kw)
    n_jobs = _next_job_id(spark) - before
    assert {r.get("write_mode") for r in lineage} == {mode}
    changed = {r["bucket"] for r in lineage if r.get("write_mode")}
    files = {b: s["n_files"] for b, s in table.bucket_summaries().items()}
    assert {files[b] for b in changed} == {1 if "compact_files_per_bucket" in kw else 2}
    assert n_jobs <= budget, n_jobs


def test_stats_filter_on_internal_seq(spark, tmp_path):
    """A stats_filter on ``_seq`` (recorded in per-file stats) must work
    under the default include_internal=False — the residual predicate runs
    BEFORE internal columns are dropped (ADVICE r4)."""

    table = _mk_table(tmp_path, "t_seqstats", num_buckets=2)
    added = _stage_file(table, 0, [(f"a{i}", "web", i) for i in range(5)])
    added += _stage_file(table, 1, [(f"b{i}", "code", 10 + i) for i in range(5)])
    table.commit(added_files=added, replaced_buckets=set())
    out = table.read(spark, stats_filter={"_seq": (10, None)})
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {f"b{i}" for i in range(5)}
    assert "_seq" not in out.columns  # still the public view
    # and composes with read_keys
    got = table.read_keys(spark, ["b2"], stats_filter={"_seq": (10, None)})
    assert got.count() == 1
    assert table.read_keys(spark, ["b2"], stats_filter={"_seq": (0, 5)}).count() == 0


def test_commit_props_fn_survives_rebase(tmp_path):
    """props_fn stamps the version the commit ACTUALLY lands at: after a
    disjoint-bucket rebase the recorded version matches the returned one
    (ADVICE r4: compact's precomputed m.version+1 went stale)."""

    table = _mk_table(tmp_path, "t_propsfn")
    v0 = table.current_version()
    e_b0 = _stage_file(table, 0, [("a", "web", 1)])
    e_b1 = _stage_file(table, 1, [("b", "web", 1)])
    assert table.commit(added_files=e_b0, replaced_buckets={0}, expected_parent=v0) == 1
    # stale parent + disjoint bucket -> internal rebase; props_fn sees v=2
    v = table.commit(
        added_files=e_b1, replaced_buckets={1}, expected_parent=v0,
        props_fn=lambda ver: {"last_compaction_version": ver},
    )
    assert v == 2
    assert table.manifest()["props"]["last_compaction_version"] == v


def test_compact_records_actual_version(spark, tmp_path):
    """compact()'s last_compaction_version prop equals the version compact
    returned."""

    table = _mk_table(tmp_path, "t_compactv", num_buckets=2)
    added = _stage_file(table, 0, [(f"a{i}", "web", i) for i in range(3)])
    added += _stage_file(table, 0, [(f"c{i}", "web", 10 + i) for i in range(3)])
    table.commit(added_files=added, replaced_buckets=set())
    v = compact(spark, table, min_files=2)
    assert v is not None
    assert table.manifest()["props"]["last_compaction_version"] == v


def test_mor_threshold_uses_base_rows_only(spark, tmp_path):
    """The MOR changed-fraction denominator counts BASE-file rows, not
    base+delta: with 400 base rows and 20 existing delta rows, a 21-doc
    change (> 5% of 400, but <= 5% of 420) must go copy-on-write."""

    def batch(seq0, ids):
        return spark.createDataFrame(
            [(seq0 + j, "U", f"doc_{i:08d}", [1, 2], 2, "web")
             for j, i in enumerate(ids)],
            "event_seq long, op string, doc_id string, tokens array<int>, "
            "n_tok int, source string",
        )

    table = create_empty_table(str(tmp_path / "t_mden"), V1_PAYLOAD, num_buckets=1)
    apply_batch(spark, table, batch(0, range(400)), 0, mor="auto", compact=False)
    # dribble: 20 docs -> 20 <= 0.05*400 -> MOR (bucket now has base + delta)
    lin1 = apply_batch(spark, table, batch(1000, range(20)), 1, mor="auto", compact=False)
    assert [r.get("write_mode") for r in lin1] == ["mor"]
    # 21 docs: the inflated denominator 420 would keep MOR (21 <= 21);
    # base-only denominator 400 forces COW (21 > 20)
    lin2 = apply_batch(spark, table, batch(2000, range(21)), 2, mor="auto",
                       compact=False, compact_files_per_bucket=99)
    assert [r.get("write_mode") for r in lin2] == ["cow"]
    # state is correct either way
    assert table.read(spark).count() == 400


def test_bloom_auto_ndv(spark, tmp_path):
    """bloom_ndv='auto' sizes the filter from per-bucket row counts already
    in the manifest — bloom bytes land with no explicit ndv, and point
    lookups stay exact (ADVICE r4 / verdict item 2)."""

    batch = spark.createDataFrame(
        [(i, "I", f"doc_{i:08d}", [1, 2], 2, "web") for i in range(2000)],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string",
    )
    t1 = create_empty_table(str(tmp_path / "t_ba"), V1_PAYLOAD, num_buckets=2)
    t2 = create_empty_table(str(tmp_path / "t_bp"), V1_PAYLOAD, num_buckets=2)
    apply_batch(spark, t1, batch, 0, bloom_ndv="auto")
    apply_batch(spark, t2, batch, 0)
    b1 = sum(f["bytes"] for f in t1.files())
    b2 = sum(f["bytes"] for f in t2.files())
    assert b1 > b2 + 1000, (b1, b2)  # auto-sized bloom bytes actually landed
    got = t1.read_keys(spark, ["doc_00000042"]).collect()
    assert len(got) == 1 and got[0]["n_tok"] == 2
    # compaction path: auto ndv from summaries (capped by max_records_per_file)
    assert compact(spark, t2, min_files=1, bloom_ndv="auto") is not None
    b2c = sum(f["bytes"] for f in t2.files())
    assert b2c > b2 + 1000, (b2c, b2)
    assert t2.read_keys(spark, ["doc_00000042"]).count() == 1


def test_bootstrap_stores_nullable_nested_types(spark, tmp_path):
    """A bootstrap frame whose array elements Spark knows to be non-null
    (``F.array(F.lit(1))``) is stored with the nullable element type, so the
    table reads back and takes an apply batch whose array type allows nulls."""
    from recidiviz_data_spark.cdc.apply import bootstrap_table

    df = spark.range(20).select(
        F.format_string("doc_%03d", F.col("id")).alias("doc_id"),
        F.array(F.lit(1)).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("web").alias("source"),
    )
    assert not df.schema["tokens"].dataType.containsNull
    table = bootstrap_table(spark, str(tmp_path / "t_boot"), df, num_buckets=2)
    assert table.spark_schema()["tokens"].dataType.containsNull
    assert table.read(spark).count() == 20
    ev = spark.createDataFrame(
        [(1, "U", "doc_001", [7], 1, "web"), (2, "I", "doc_900", [5], 1, "api")],
        "event_seq long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string",
    )
    apply_batch(spark, table, ev, 0)
    got = {r["doc_id"]: r["tokens"] for r in table.read(spark).collect()}
    assert len(got) == 21
    assert got["doc_001"] == [7] and got["doc_900"] == [5]

"""Differ identity (SURVEY.md §7 M6) + structured-streaming apply tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from recidiviz_data_spark.cdc.apply import apply_batch, create_empty_table
from recidiviz_data_spark.cdc.differ import snapshot_diff
from recidiviz_data_spark.gen import gen_changelog
from recidiviz_data_spark.oracle import assert_state_equal, expected_state
from recidiviz_data_spark.streaming.microbatch import (
    ChangelogTailer,
    stream_apply_available_now,
)
from recidiviz_data_spark.tables.miniberg import Miniberg
from tests.test_replay import V1_PAYLOAD, table_state


def _tokens_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )


def test_differ_emits_minimal_events(spark):
    old = _tokens_df(spark, [
        ("a", [1], 1, "web"), ("b", [2, 2], 2, "web"), ("c", [3], 1, "code"),
    ])
    new = _tokens_df(spark, [
        ("a", [1], 1, "web"),            # unchanged -> no event
        ("b", [9, 9, 9], 3, "web"),      # changed   -> U
        ("d", [4], 1, "books"),          # added     -> I
    ])                                    # c removed -> D
    ev = {r["doc_id"]: r for r in snapshot_diff(old, new, snapshot_seq=5).collect()}
    assert set(ev) == {"b", "c", "d"}
    assert ev["b"]["op"] == "U" and ev["b"]["tokens"] == [9, 9, 9]
    assert ev["c"]["op"] == "D" and ev["c"]["tokens"] is None
    assert ev["d"]["op"] == "I"
    assert all(r["event_seq"] == 5 for r in ev.values())


def test_differ_then_apply_is_identity(spark, tmp_path):
    """differ ∘ apply == identity: applying the diff of (v1 -> v2) onto a
    table holding v1 reproduces v2 exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from recidiviz_data_spark.cdc.apply import bootstrap_table

    old = _tokens_df(spark, [
        ("a", [1], 1, "web"), ("b", [2, 2], 2, "web"), ("c", [3], 1, "code"),
    ])
    new = _tokens_df(spark, [
        ("a", [1], 1, "web"), ("b", [9, 9, 9], 3, "web"), ("d", [4], 1, "books"),
    ])
    table = bootstrap_table(spark, str(tmp_path / "t"), old, num_buckets=4)
    ev = snapshot_diff(old, new, snapshot_seq=0).withColumn(
        "batch_id", F.lit(0).cast("long")
    )
    apply_batch(spark, table, ev, 0)
    got = {
        (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in table.read(spark).collect()
    }
    want = {
        (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in new.collect()
    }
    assert got == want


def test_tailer_availablenow(spark, changelog_plain, tmp_path):
    d, _ = changelog_plain
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    tailer = ChangelogTailer(spark, table, d)
    lineage = tailer.run_available()
    assert tailer.watermark == max(r["batch_id"] for r in lineage)
    assert tailer.run_available() == []  # drained -> no-op
    assert_state_equal(table_state(spark, table), expected_state(d))


def _write_batch_file(cl_dir, batch_id, rows):
    """Hand-built changelog batch: rows = [(event_seq, op, doc_id, tokens)]."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    bdir = os.path.join(cl_dir, f"batch_id={batch_id}")
    os.makedirs(bdir, exist_ok=True)
    tbl = pa.table(
        {
            "event_seq": pa.array([r[0] for r in rows], pa.int64()),
            "op": pa.array([r[1] for r in rows], pa.string()),
            "doc_id": pa.array([r[2] for r in rows], pa.string()),
            "tokens": pa.array([r[3] for r in rows], pa.list_(pa.int32())),
            "n_tok": pa.array([len(r[3]) for r in rows], pa.int32()),
            "source": pa.array(["web"] * len(rows), pa.string()),
            "ts": pa.array([datetime.datetime(2024, 1, 1)] * len(rows), pa.timestamp("us")),
            "schema_ver": pa.array([1] * len(rows), pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(bdir, "part-0.parquet"))


def _live_docs(spark, table):
    return {r["doc_id"] for r in table.read(spark).collect()}


def test_streaming_recreated_checkpoint_keeps_new_data(spark, tmp_path):
    """A recreated checkpoint restarts epoch ids at 0; the persisted
    epoch->batch_id base from the OLD checkpoint must not map the new
    (bundled) epoch below the watermark and silently drop fresh events."""
    cl = str(tmp_path / "cl")
    _write_batch_file(cl, 0, [(1, "I", "a", [1]), (2, "I", "b", [2])])
    _write_batch_file(cl, 1, [(3, "I", "c", [3])])
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    stream_apply_available_now(spark, table, cl, str(tmp_path / "ck1"),
                               max_files_per_trigger=1)
    assert _live_docs(spark, table) == {"a", "b", "c"}
    # new data arrives; the checkpoint is lost/recreated (fresh dir)
    _write_batch_file(cl, 2, [(4, "I", "d", [4]), (5, "I", "e", [5])])
    stream_apply_available_now(spark, table, cl, str(tmp_path / "ck2"),
                               max_files_per_trigger=10)  # all files, 1 epoch
    assert _live_docs(spark, table) == {"a", "b", "c", "d", "e"}


def test_streaming_survives_interleaved_batch_writer(spark, tmp_path):
    """A foreign batch writer advancing the table watermark between stream
    runs must not make the stream's next (new-data) epoch look like a replay."""
    cl = str(tmp_path / "cl")
    _write_batch_file(cl, 0, [(1, "I", "a", [1])])
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    ckpt = str(tmp_path / "ck")
    stream_apply_available_now(spark, table, cl, ckpt, max_files_per_trigger=10)
    assert _live_docs(spark, table) == {"a"}
    # a direct batch apply jumps the watermark far ahead of the stream's base
    foreign = spark.createDataFrame(
        [(100, "I", "f", [6], 1, "web")],
        "event_seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    apply_batch(spark, table, foreign, table.manifest()["last_applied_batch"] + 7)
    # new stream data: its epoch id maps below the watermark under the old base
    _write_batch_file(cl, 1, [(101, "I", "g", [7])])
    stream_apply_available_now(spark, table, cl, ckpt, max_files_per_trigger=10)
    assert _live_docs(spark, table) == {"a", "f", "g"}


def test_structured_streaming_apply(spark, tmp_path):
    """readStream + foreachBatch MERGE, availableNow, multiple micro-batches;
    a SECOND run with the same checkpoint is a no-op (exactly-once)."""
    cl = str(tmp_path / "cl")
    gen_changelog(cl, n_docs=300, n_events=2500, n_batches=4, seed=3,
                  delete_rate=0.1, dup_rate=0.05)
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    stream_apply_available_now(spark, table, cl, ckpt, max_files_per_trigger=1)
    assert_state_equal(table_state(spark, table), expected_state(cl))
    v = table.current_version()
    stream_apply_available_now(spark, table, cl, ckpt, max_files_per_trigger=1)
    assert table.current_version() == v  # checkpoint replay adds nothing
    assert_state_equal(table_state(spark, table), expected_state(cl))
    assert os.path.isdir(ckpt)


def _img_rows(df):
    return {tuple(tuple(x) if isinstance(x, list) else x for x in r)
            for r in df.collect()}


def test_one_read_diff_equals_two_read_images(spark, tmp_path):
    """The one-read table diff (``table_row_images``) equals ``row_images``
    of the two snapshots' public reads of the changed buckets, over a random
    history: merge-on-read deltas stacked 1-3 deep, a compacting commit,
    copy-on-write commits, tombstones, delete-then-reinsert, NULL groups and
    values, a column added inside the span, and spans of several commits.
    ``Miniberg.table_changes`` over the whole history, forwards and
    backwards, equals ``snapshot_diff`` of the two full reads."""
    import random

    from recidiviz_data_spark.cdc.apply import bootstrap_table
    from recidiviz_data_spark.cdc.differ import row_images, table_row_images
    from recidiviz_data_spark.tables.maintenance import compact
    from recidiviz_data_spark.tables.miniberg import align_to_schema

    rng = random.Random(20261020)

    def payload():
        return ([rng.randrange(3)] * rng.randrange(1, 3),
                None if rng.random() < 0.2 else rng.randrange(5),
                rng.choice(["a", "b", None]))

    live = {f"doc_{i:02d}": payload() for i in range(40)}
    base = spark.createDataFrame(
        [(k, *p) for k, p in sorted(live.items())],
        "doc_id string, tokens array<int>, n_tok int, source string")
    table = bootstrap_table(spark, str(tmp_path / "t"), base, num_buckets=4)
    versions, deleted, seq = [table.current_version()], [], 0
    ev_schema = ("event_seq long, op string, doc_id string, tokens array<int>, "
                 "n_tok int, source string")
    script = ["mor", "mor", "mor", "compact", "cow", "mor", "lang", "mor",
              "reinsert", "mor", "mor"]
    for i, step in enumerate(script):
        if step == "compact":
            assert compact(spark, table, min_files=1) is not None
            versions.append(table.current_version())
            continue
        if step == "lang":
            ev_schema += ", lang string"
        events = []
        for k in rng.sample(sorted(live), 3):
            seq += 1
            if rng.random() < 0.4:
                events.append((seq, "D", k, None, None, None))
                del live[k]
                deleted.append(k)
            else:
                live[k] = payload()
                events.append((seq, "U", k, *live[k]))
        back = deleted[:2] if step == "reinsert" else []
        for k in back + [f"doc_{100 + i}"]:
            seq += 1
            live[k] = payload()
            events.append((seq, "I", k, *live[k]))
        deleted = [k for k in deleted if k not in back]
        if "lang" in ev_schema:
            events = [(*e, rng.choice(["en", None])) for e in events]
        apply_batch(spark, table, spark.createDataFrame(events, ev_schema), i,
                    mor=step != "cow", compact=False)
        versions.append(table.current_version())
    depth = max(sum(f.get("kind") == "delta" for f in table.files(buckets=[b]))
                for b in range(4))
    assert 2 <= depth <= 3, depth

    def reference(f, t, cols):
        cb = table.changed_buckets(f, t)
        user = table.spark_schema(t, include_internal=False)
        old = align_to_schema(table.read(spark, version=f, buckets=cb), user)
        new = table.read(spark, version=t, buckets=cb)
        return row_images(old, new, key="doc_id", cols=cols)

    spans = list(zip(versions, versions[1:])) + [
        (versions[0], versions[-1]), (versions[2], versions[7]),
        (versions[4], versions[9]), (versions[1], versions[-1])]
    col_sets = [["source", "n_tok"], ["tokens"], ["doc_id", "source"],
                ["lang", "n_tok"]]
    for j, (f, t) in enumerate(spans):
        cols = col_sets[j % len(col_sets)]
        if "lang" not in table.spark_schema(t).fieldNames():
            cols = col_sets[0]
        got = table_row_images(spark, table, f, t, cols=cols)
        want = reference(f, t, cols)
        assert got.columns == want.columns, (f, t)
        assert _img_rows(got) == _img_rows(want), (f, t, cols)

    # forwards over the whole history, and backwards across the added column
    for f, t in ((versions[0], versions[-1]), (versions[-1], versions[0])):
        user = table.spark_schema(t, include_internal=False)
        want = snapshot_diff(
            align_to_schema(table.read(spark, version=f), user),
            table.read(spark, version=t), snapshot_seq=t)
        assert _img_rows(table.table_changes(spark, f, t)) == _img_rows(want), (f, t)


def test_one_read_diff_plan_scans_each_file_once(spark, tmp_path):
    """The one-read diff's plan reads each data file of the two snapshots'
    changed buckets in exactly one FileScan, and runs exactly one Exchange
    (its group-by on the key)."""
    from collections import Counter

    from recidiviz_data_spark.cdc.apply import bootstrap_table
    from recidiviz_data_spark.cdc.differ import table_row_images

    base = _tokens_df(spark, [(f"doc_{i:02d}", [i], 1, "web") for i in range(40)])
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 4)
    try:
        table = bootstrap_table(spark, str(tmp_path / "t"), base, num_buckets=4)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    v0 = table.current_version()
    ev = ("event_seq long, op string, doc_id string, tokens array<int>, "
          "n_tok int, source string")
    for i, (op, k) in enumerate([("U", "doc_01"), ("D", "doc_02"), ("I", "doc_77")]):
        apply_batch(spark, table, spark.createDataFrame(
            [(i + 1, op, k, [9], 1, "api")], ev), i, mor=True, compact=False)
    v1 = table.current_version()
    cb = table.changed_buckets(v0, v1)
    files = {os.path.join(table.root, f["path"])
             for v in (v0, v1) for f in table.files(v, buckets=cb)}
    assert any(f.get("kind") == "delta" for f in table.files(v1, buckets=cb))

    images = table_row_images(spark, table, v0, v1, cols=["source", "n_tok"])
    plan = images._jdf.queryExecution().executedPlan().initialPlan()
    scanned: Counter = Counter()
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        assert leaf.getClass().getSimpleName() == "FileSourceScanExec", leaf.nodeName()
        paths = leaf.relation().location().rootPaths().iterator()
        while paths.hasNext():
            scanned[paths.next().toUri().getPath()] += 1
    assert set(scanned) == files and set(scanned.values()) == {1}, scanned
    nodes = [ln.lstrip(" :+-") for ln in plan.treeString().splitlines()]
    assert sum(n.split(" ")[0].endswith("Exchange") for n in nodes) == 1, nodes
    assert {r["doc_id"] for r in images.collect()} == {"doc_01", "doc_02", "doc_77"}

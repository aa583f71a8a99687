"""Regression tests for the round-1 code-review findings (all were latent or
runtime-confirmed bugs; each test exercises the failure scenario)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from recidiviz_data_spark.cdc.apply import (
    InvalidBatchError,
    apply_batch,
    apply_batches,
    create_empty_table,
)
from recidiviz_data_spark.sources.changelog import read_batch
from tests.test_replay import V1_PAYLOAD
from tests.test_tombstones import write_batch


def test_shingles_handle_docs_shorter_than_ngram(spark, tmp_path):
    """Docs with <3 words: sequence(1, 0) is DESCENDING in Spark and slice
    threw; now they simply contribute no shingles (matching DuckDB)."""
    import duckdb

    from recidiviz_data_spark.operators.registry import ORACLES, QUERIES

    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
                "text": pa.array(["hi", "a b", "one two three four", ""], pa.string()),
                "lang": pa.array(["en"] * 4, pa.string()),
                "source": pa.array(["s"] * 4, pa.string()),
                "n_chars": pa.array([2, 3, 18, 0], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    got = QUERIES["d_ngram_jaccard"](spark, d).collect()  # must not throw
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')")
    exp = con.execute(ORACLES["d_ngram_jaccard"]).df()
    assert len(got) == len(exp)
    # minhash over the same short docs must also survive
    QUERIES["d_minhash_lsh"](spark, d).collect()


def test_argmax_rejects_invalid_twin_of_winner(spark, tmp_path):
    """An INVALID event sharing the valid winner's (doc_id, event_seq) must
    never supply the applied payload (argmax pass 2 now joins valid-only)."""
    d = str(tmp_path / "cl")
    os.makedirs(os.path.join(d, "batch_id=0"), exist_ok=True)
    tbl = pa.table(
        {
            "event_seq": pa.array([5, 5], pa.int64()),
            "op": pa.array(["I", "U"], pa.string()),
            "doc_id": pa.array(["a", "a"], pa.string()),
            "tokens": pa.array([[1, 2], [9]], pa.list_(pa.int32())),
            "n_tok": pa.array([2, 7], pa.int32()),  # second row: corrupt
            "source": pa.array(["web", "web"], pa.string()),
            "ts": pa.array([0, 0], pa.timestamp("us")),
            "schema_ver": pa.array([1, 1], pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "batch_id=0", "part-0.parquet"))
    for strat in ("agg", "argmax", "window", "salted_window"):
        t = create_empty_table(str(tmp_path / f"t_{strat}"), V1_PAYLOAD, num_buckets=2)
        apply_batches(spark, t, d, dedup_strategy=strat)
        rows = t.read(spark).collect()
        assert len(rows) == 1
        assert rows[0]["tokens"] == [1, 2] and rows[0]["n_tok"] == 2, (strat, rows)


def test_window_strategy_all_invalid_batch_hits_gate(spark, tmp_path):
    """window-path all-invalid batch: the gate must fire BEFORE any commit
    (previously an early-return committed the watermark, losing the batch)."""
    cl = str(tmp_path / "cl")
    os.makedirs(os.path.join(cl, "batch_id=0"), exist_ok=True)
    tbl = pa.table(
        {
            "event_seq": pa.array([1, 2], pa.int64()),
            "op": pa.array(["X", "X"], pa.string()),
            "doc_id": pa.array(["a", "b"], pa.string()),
            "tokens": pa.array([[1], [2]], pa.list_(pa.int32())),
            "n_tok": pa.array([1, 1], pa.int32()),
            "source": pa.array(["web"] * 2, pa.string()),
            "ts": pa.array([0, 0], pa.timestamp("us")),
            "schema_ver": pa.array([1, 1], pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(cl, "batch_id=0", "part-0.parquet"))
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=2)
    with pytest.raises(InvalidBatchError):
        apply_batch(spark, table, read_batch(spark, cl, 0), 0,
                    dedup_strategy="window", max_invalid_ratio=0.5)
    assert table.manifest()["last_applied_batch"] == -1  # nothing committed
    # without the gate it applies as a metrics-only commit with full counts
    lineage = apply_batch(spark, table, read_batch(spark, cl, 0), 0,
                          dedup_strategy="window")
    assert sum(r["invalid"] for r in lineage) == 2
    assert sum(r["events_in"] for r in lineage) == 2


def test_stale_only_batch_rewrites_no_buckets(spark, tmp_path):
    """A batch of pure stale replays must not rewrite ANY bucket (previously
    every winner-touched bucket was rewritten — write amplification)."""
    cl = str(tmp_path / "cl")
    write_batch(cl, 0, [{"seq": 10, "op": "I", "doc": d, "tokens": [1]} for d in "abcdef"])
    write_batch(cl, 1, [{"seq": 5, "op": "U", "doc": d, "tokens": [2, 2]} for d in "abcdef"])
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, cl, upto=0)
    files_before = {f["path"] for f in table.files()}
    lineage = apply_batches(spark, table, cl)  # batch 1: all stale
    assert sum(r["skipped_stale"] for r in lineage) == 6
    files_after = {f["path"] for f in table.files()}
    assert files_before == files_after, "stale-only batch must not rewrite data"


def test_expire_snapshots_twice(spark, tmp_path):
    """Second expiry with a larger keep_last must tolerate already-expired
    version gaps (previously FileNotFoundError)."""
    from recidiviz_data_spark.gen import gen_changelog
    from recidiviz_data_spark.tables.maintenance import expire_snapshots

    cl = str(tmp_path / "cl")
    gen_changelog(cl, n_docs=50, n_events=400, n_batches=6)
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=2)
    apply_batches(spark, table, cl)
    expire_snapshots(table, keep_last=2, grace_seconds=0)
    removed = expire_snapshots(table, keep_last=5, grace_seconds=0)  # survivors have gaps now
    assert table.current_version() == 6
    assert isinstance(removed, list)
    assert table.read(spark).count() > 0


def test_manifest_file_bytes_are_real_sizes(spark, tmp_path):
    cl = str(tmp_path / "cl")
    write_batch(cl, 0, [{"seq": i, "op": "I", "doc": f"d{i}", "tokens": [i]} for i in range(50)])
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=2)
    apply_batches(spark, table, cl)
    for f in table.files():
        actual = os.path.getsize(os.path.join(table.root, f["path"]))
        assert f["bytes"] == actual and actual > 500, f


def test_gen_chunked_batch_files_share_schema(spark, tmp_path):
    """A >rows_per_file batch straddling the schema bump: every chunk file in
    the batch dir must carry the SAME physical schema."""
    from recidiviz_data_spark.gen import ChangelogSpec, gen_changelog

    d = str(tmp_path / "cl")
    spec = ChangelogSpec(
        n_docs=200, n_events=3000, n_batches=2, schema_bump_frac=0.9,
        stale_rate=0.1, extra={"rows_per_file": 200},
    )
    gen_changelog(d, spec)
    import glob

    import pyarrow.parquet as pq2

    for b in (0, 1):
        schemas = {
            pq2.ParquetFile(p).schema_arrow.to_string()
            for p in glob.glob(os.path.join(d, f"batch_id={b}", "*.parquet"))
        }
        assert len(schemas) == 1, f"batch {b} files disagree on schema"
    # and the engine applies it cleanly
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=2)
    apply_batches(spark, table, d)
    assert table.read(spark).count() > 0


def test_subword_bpe_separator_collision_safe(spark, tmp_path):
    """Round-3 review: the BPE oracle's token-boundary char must not collide
    with corpus text. Words containing '|' (the old separator) and chr(31)
    (the reserved one, stripped in both engines) must count identically in
    Spark and the DuckDB recursive-CTE oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from recidiviz_data_spark.operators.textops import x_subword_bpe
    from recidiviz_data_spark.operators.base import EXTRA_ORACLES
    from recidiviz_data_spark.plans.contract_check import compare

    docs = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": pa.array(
                ["a|b the|cat", "x\x1fy theater", "plain the and words"],
                pa.string(),
            ),
            "lang": pa.array(["en"] * 3),
            "source": pa.array(["t"] * 3),
            "n_chars": pa.array([11, 10, 19], pa.int64()),
        }
    )
    sf = str(tmp_path)
    pq.write_table(docs, f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    expected = con.execute(EXTRA_ORACLES["x_subword_bpe"]).df()
    compare(x_subword_bpe(spark, sf), expected, name="x_subword_bpe_pipes")
    con.close()

"""Skew (SURVEY.md §5.2 #5) and vectorized normalization (P5) tests."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from recidiviz_data_spark.cdc.apply import apply_batches, create_empty_table
from recidiviz_data_spark.functions.tokens import (
    normalize_tokens_arrow,
    normalize_tokens_native,
)
from recidiviz_data_spark.gen import gen_changelog
from recidiviz_data_spark.oracle import assert_state_equal, expected_state
from tests.test_replay import V1_PAYLOAD, table_state


@pytest.fixture(scope="module")
def zipf_changelog(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("zipf"))
    gen_changelog(
        d, n_docs=200, n_events=8000, n_batches=3,
        zipf_a=1.5, delete_rate=0.05, dup_rate=0.1,
    )
    return d


@pytest.mark.parametrize("strategy", ["agg", "salted_window"])
def test_zipf_hot_keys_correct(spark, zipf_changelog, tmp_path, strategy):
    """Zipf(1.5) doc skew: hottest docs get ~1000s of events; both the
    map-side-combine agg and the two-phase salted window stay correct."""
    table = create_empty_table(str(tmp_path / f"t_{strategy}"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, zipf_changelog, dedup_strategy=strategy)
    assert_state_equal(table_state(spark, table), expected_state(zipf_changelog))


def test_salted_window_bounds_partition_size(spark, zipf_changelog):
    """The salt splits a hot key across salt_partitions groups pre-window."""
    from pyspark.sql import functions as F

    from recidiviz_data_spark.sources.changelog import read_range

    log = read_range(spark, zipf_changelog)
    top = log.groupBy("doc_id").count().orderBy(F.desc("count")).first()
    assert top["count"] > 500, "fixture should actually be skewed"
    salted = log.withColumn("_salt", F.pmod(F.xxhash64("event_seq"), F.lit(8)))
    per_salt = (
        salted.filter(F.col("doc_id") == top["doc_id"])
        .groupBy("_salt").count().agg(F.max("count")).first()[0]
    )
    assert per_salt < top["count"] * 0.35  # ~1/8 each, generous bound


def test_native_and_arrow_normalizers_agree(spark):
    rows = [
        ("a", [1, -1, 60000, 3], 4),
        ("b", [-1, -1], 2),
        ("c", None, None),
        ("d", [], 0),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int")
    a = {r["doc_id"]: (r["tokens"], r["n_tok"])
         for r in normalize_tokens_native(df).collect()}
    b = {r["doc_id"]: (r["tokens"], r["n_tok"])
         for r in normalize_tokens_arrow(df).collect()}
    assert a == b
    assert a["a"] == ([1, 60000 % 50257, 3], 3)  # pad dropped, oov clamped
    assert a["b"] == ([], 0)
    assert a["c"] == (None, None)


@pytest.mark.parametrize("strategy", ["agg", "argmax", "window", "salted_window"])
def test_invalid_events_counted_and_excluded(spark, tmp_path, strategy):
    """Rows failing validation (bad op, n_tok mismatch) are side-channelled
    into the invalid metric, not applied (reference's error-threshold analog)."""
    import os

    d = str(tmp_path / "cl")
    os.makedirs(os.path.join(d, "batch_id=0"), exist_ok=True)
    tbl = pa.table(
        {
            "event_seq": pa.array([1, 2, 3, 4], pa.int64()),
            "op": pa.array(["I", "X", "I", "I"], pa.string()),
            "doc_id": pa.array(["a", "b", "c", None], pa.string()),
            "tokens": pa.array([[1, 2], [3], [4, 5], [6]], pa.list_(pa.int32())),
            "n_tok": pa.array([2, 1, 99, 1], pa.int32()),  # c: n_tok mismatch
            "source": pa.array(["web"] * 4, pa.string()),
            "ts": pa.array([0, 0, 0, 0], pa.timestamp("us")),
            "schema_ver": pa.array([1] * 4, pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "batch_id=0", "part-0.parquet"))
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=2)
    lineage = apply_batches(spark, table, d, dedup_strategy=strategy)
    assert sum(r["invalid"] for r in lineage) == 3
    assert sum(r["applied"] for r in lineage) == 1
    assert {r["doc_id"] for r in table.read(spark).collect()} == {"a"}


def test_invalid_threshold_aborts_batch(spark, tmp_path):
    """The reference aborts the persistence write past an error threshold
    (SURVEY §4.1); our gate must reject the batch BEFORE any commit."""
    import os

    import pytest

    from recidiviz_data_spark.cdc.apply import InvalidBatchError, apply_batch
    from recidiviz_data_spark.sources.changelog import read_batch

    d = str(tmp_path / "cl")
    os.makedirs(os.path.join(d, "batch_id=0"), exist_ok=True)
    tbl = pa.table(
        {
            "event_seq": pa.array([1, 2, 3], pa.int64()),
            "op": pa.array(["I", "X", "X"], pa.string()),
            "doc_id": pa.array(["a", "b", "c"], pa.string()),
            "tokens": pa.array([[1], [2], [3]], pa.list_(pa.int32())),
            "n_tok": pa.array([1, 1, 1], pa.int32()),
            "source": pa.array(["web"] * 3, pa.string()),
            "ts": pa.array([0] * 3, pa.timestamp("us")),
            "schema_ver": pa.array([1] * 3, pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "batch_id=0", "part-0.parquet"))
    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=2)
    v = table.current_version()
    with pytest.raises(InvalidBatchError):
        apply_batch(spark, table, read_batch(spark, d, 0), 0, max_invalid_ratio=0.5)
    assert table.current_version() == v  # nothing committed
    assert table.manifest()["last_applied_batch"] == -1
    # without the gate the batch applies, counting the invalids
    lineage = apply_batch(spark, table, read_batch(spark, d, 0), 0)
    assert sum(r["invalid"] for r in lineage) == 2

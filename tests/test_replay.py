"""Replay-equality golden tests (SURVEY.md §5.2 #1) — the engine's batch-by-
batch apply must reproduce the oracle's single-pass LWW fold with per-row
token-array equality, mirroring the reference's historical-snapshot update
tests (SURVEY.md §5.1)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from recidiviz_data_spark.cdc import apply
from recidiviz_data_spark.cdc.apply import (
    DECISION_PRUNE_MIN_BYTES,
    apply_batches,
    apply_full_log,
    create_empty_table,
)
from recidiviz_data_spark.oracle import (
    assert_state_equal,
    expected_state,
    expected_state_with_lang,
)

V1_PAYLOAD = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def table_state(spark, table, with_lang=False):
    df = table.read(spark)
    cols = ["doc_id", "tokens", "n_tok", "source"] + (["lang"] if with_lang else [])
    return df.selectExpr(
        *[c if c != "n_tok" else "CAST(n_tok AS BIGINT) AS n_tok" for c in cols]
    ).toPandas()


@pytest.mark.parametrize("strategy", ["agg", "argmax", "window", "salted_window"])
def test_incremental_apply_matches_oracle(spark, changelog_small, tmp_path, strategy):
    d, _ = changelog_small
    table = create_empty_table(str(tmp_path / f"t_{strategy}"), V1_PAYLOAD, num_buckets=8)
    lineage = apply_batches(spark, table, d, dedup_strategy=strategy)
    assert lineage, "no lineage rows emitted"
    assert_state_equal(table_state(spark, table, with_lang=True),
                       expected_state_with_lang(d))


def test_full_log_replay_matches_oracle(spark, changelog_plain, tmp_path):
    d, _ = changelog_plain
    table = apply_full_log(spark, str(tmp_path / "t_full"), d, num_buckets=8)
    assert_state_equal(table_state(spark, table), expected_state(d))


def test_incremental_equals_full_log(spark, changelog_small, tmp_path):
    d, _ = changelog_small
    t_inc = create_empty_table(str(tmp_path / "t_inc"), V1_PAYLOAD, num_buckets=8)
    apply_batches(spark, t_inc, d)
    t_full = apply_full_log(spark, str(tmp_path / "t_full2"), d, num_buckets=8)
    a = table_state(spark, t_inc, with_lang=True)
    b = table_state(spark, t_full, with_lang=True)
    assert_state_equal(a, b)


def test_metrics_reconcile(spark, changelog_small, tmp_path):
    """FIXTURES.md §A5: events_in = applied + deleted + skipped_stale + invalid."""
    d, spec = changelog_small
    table = create_empty_table(str(tmp_path / "t_metrics"), V1_PAYLOAD, num_buckets=8)
    lineage = apply_batches(spark, table, d)
    for row in lineage:
        assert row["events_in"] == (
            row["applied"] + row["deleted"] + row["skipped_stale"] + row["invalid"]
        ), row
    # totals: every generated event accounted for exactly once
    import duckdb

    n_events = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{d}/batch_id=*/*.parquet', "
        "hive_partitioning=true, union_by_name=true)"
    ).fetchone()[0]
    assert sum(r["events_in"] for r in lineage) == n_events
    # lineage persisted with the table
    assert table.lineage() == lineage


@pytest.mark.parametrize("min_bytes", [
    pytest.param(0, id="True"),
    pytest.param(float("inf"), id="False"),
    pytest.param(DECISION_PRUNE_MIN_BYTES, id="auto"),
])
def test_decision_prune_modes_equivalent(spark, changelog_plain, tmp_path,
                                         monkeypatch, request, min_bytes):
    """The decision-prune size rule only changes WHICH jobs run (prune-collect
    vs unpruned 2-column read) — the final state must be identical either
    way. A 0-byte threshold always prunes ("True"), an infinite one never
    prunes ("False"), and the default size rule ("auto") prunes none of
    these small tables."""
    d, _ = changelog_plain
    monkeypatch.setattr(apply, "DECISION_PRUNE_MIN_BYTES", min_bytes)
    mode = request.node.callspec.id
    table = create_empty_table(str(tmp_path / f"t_{mode}"), V1_PAYLOAD, num_buckets=4)
    apply_batches(spark, table, d)
    assert_state_equal(table_state(spark, table), expected_state(d))


def _write_batch(d, batch_id, rows):
    """One hand-written changelog batch of (event_seq, op, doc_id, tokens, n_tok)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    seq, op, doc, tok, n = zip(*rows)
    os.makedirs(os.path.join(d, f"batch_id={batch_id}"), exist_ok=True)
    pq.write_table(
        pa.table({
            "event_seq": pa.array(seq, pa.int64()),
            "op": pa.array(op, pa.string()),
            "doc_id": pa.array(doc, pa.string()),
            "tokens": pa.array(tok, pa.list_(pa.int32())),
            "n_tok": pa.array(n, pa.int32()),
            "source": pa.array(["web"] * len(rows), pa.string()),
            "ts": pa.array([0] * len(rows), pa.timestamp("us")),
            "schema_ver": pa.array([1] * len(rows), pa.int32()),
        }),
        os.path.join(d, f"batch_id={batch_id}", "part-0.parquet"),
    )


def test_strategies_agree_on_lineage_and_state(spark, tmp_path):
    """All four dedup strategies share one contract: on a batch holding every
    edge case, their lineage rows and final states are equal."""
    d = str(tmp_path / "cl")
    _write_batch(d, 0, [
        (1, "I", "a", [1, 2], 2), (1, "I", "a", [1, 2], 2),  # exact duplicate
        (3, "U", "a", [5], 1),
        (4, "U", "b", [7], 1), (4, "U", "b", [8], 1),  # same-seq tie
        (6, "I", "c", [3, 4], 2), (6, "U", "c", [9], 7),  # invalid twin of winner
        (7, "I", "d", [2], 1), (8, None, "d", [1], 1),  # op NULL: _valid NULL
        (9, "X", "e", [1], 1), (10, "I", "e", [1, 2], 5),  # only invalid events
        (11, "I", None, [1], 1),  # NULL doc_id
        (2, "I", "f", [1], 1), (12, "D", "f", None, None),
    ])
    _write_batch(d, 1, [
        (2, "U", "a", [6], 1),  # stale against a's seq 3
        (13, "D", "b", None, None),
        (14, "I", "g", [4], 1), (15, None, "g", [5], 1),
        (16, "X", "e", [1], 1),
    ])
    lineages, states = {}, {}
    for strat in ("agg", "argmax", "window", "salted_window"):
        t = create_empty_table(str(tmp_path / f"t_{strat}"), V1_PAYLOAD, num_buckets=4)
        lineages[strat] = [
            {k: v for k, v in r.items() if k != "wall_ms"}
            for r in apply_batches(spark, t, d, dedup_strategy=strat)
        ]
        states[strat] = table_state(spark, t).sort_values("doc_id").reset_index(drop=True)
    for strat in ("argmax", "window", "salted_window"):
        assert lineages[strat] == lineages["agg"], strat
        assert_state_equal(states[strat], states["agg"])
    got = {r.doc_id: list(r.tokens) for r in states["agg"].itertuples()}
    assert got == {"a": [5], "c": [3, 4], "d": [2], "g": [4]}
    assert sum(r["invalid"] for r in lineages["agg"]) == 7
    assert sum(r["events_in"] for r in lineages["agg"]) == 19
    # losers (a's duplicate and older event, b's tie loser, f's insert) + a's stale replay
    assert sum(r["skipped_stale"] for r in lineages["agg"]) == 5

"""Determinism guarantees the replay suite can't see:
- all dedup strategies pick the SAME winner for distinct events that share
  (doc_id, event_seq) — the generator only emits bit-identical duplicates,
  but LWW must not depend on that (e.g. two differ outputs sharing a
  snapshot_seq);
- round_half_away is bit-identical to DuckDB round() across random doubles
  including midpoint-adjacent values (property-based).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from recidiviz_data_spark.functions.rounding import round_half_away


def test_dedup_strategies_agree_on_same_seq_distinct_payloads(spark):
    from recidiviz_data_spark.cdc.apply import BUCKET, dedup_lww

    from pyspark.sql import functions as F

    rows = [
        # doc a: same seq, distinct payloads -> tiebreak decides (op U > I,
        # then payload DESC); doc b: plain LWW on seq
        (5, "I", "a", [9, 9], 2, "web"),
        (5, "U", "a", [1, 2], 2, "web"),
        (5, "U", "a", [1, 3], 2, "code"),
        (3, "U", "b", [7], 1, "web"),
        (4, "U", "b", [8], 1, "web"),
    ]
    payload = ["tokens", "n_tok", "source"]
    results = {}
    # run every strategy over BOTH physical row orders: max_by-style tie
    # resolution depends on encounter order, which this loop makes visible
    # (reversing the rows used to flip the agg strategy's doc-a winner)
    for order, ordered in (("fwd", rows), ("rev", list(reversed(rows)))):
        df = spark.createDataFrame(
            ordered,
            "event_seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
        ).withColumn(BUCKET, F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")).withColumn(
            "_valid", F.lit(True)
        )
        for strat in ("agg", "argmax", "window", "salted_window"):
            got = {
                r["doc_id"]: (r["event_seq"], r["op"], tuple(r["tokens"]), r["n_tok"], r["source"])
                for r in dedup_lww(df, payload, strategy=strat).collect()
            }
            results[(order, strat)] = got
    first = results[("fwd", "agg")]
    assert all(got == first for got in results.values()), results
    # the tie itself resolves to the lexicographically-max struct
    assert first["a"] == (5, "U", (1, 3), 2, "code")
    assert first["b"][0] == 4


@settings(max_examples=200, deadline=None)
@given(
    st.floats(
        min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
    )
)
def test_round_half_away_matches_duckdb(v):
    d = duckdb.execute("SELECT CAST(round(?) AS BIGINT)", [v]).fetchone()[0]
    r = int(round_half_away(np.array([v]))[0])
    assert r == d, (v, r, d)


@pytest.mark.parametrize(
    "v", [0.49999999999999994, -0.49999999999999994, 0.5, -0.5, 2.5, -2.5, 4503599627370495.5]
)
def test_round_half_away_midpoints(v):
    d = duckdb.execute("SELECT CAST(round(?) AS BIGINT)", [v]).fetchone()[0]
    assert int(round_half_away(np.array([v]))[0]) == d, v

"""Seeded generator for the query tables (TPC-H-ish star schema plus the
`events`, `documents` and `embeddings` side tables the operators read).

The schemas, value domains and skews follow the fixture tables the contract
queries were written against (FIXTURES.md section B), so every query and its
DuckDB oracle run unchanged on the output. Row counts scale linearly with
`sf` (sf=1.0 gives 6M lineitem rows); the same (sf, seed) always writes the
same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo_day: int, hi_day: int, n: int) -> pa.Array:
    d = rng.integers(lo_day, hi_day, n).astype(np.int64)
    return pa.array(_EPOCH_1995_US + d * _DAY_US, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary; one in ten is a
    near-duplicate of an earlier document (a few words substituted), so the
    dedup operators find real candidate pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), type=pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors clustered around one centroid per label (10 labels)."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, dim))
    v = centroids[labels] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, type=pa.int32()),
    })


def gen_query_tables(out_dir: str, *, sf: float, seed: int) -> dict[str, int]:
    """Write `<out_dir>/<table>.parquet` for the ten tables; returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1_500)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_users = max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
            "r_name": pa.array(_REGIONS, type=pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), type=pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(_PTYPES, n_part), type=pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), type=pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, 0, 2404, n_ord),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), type=pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), type=pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), type=pa.string()),
            "l_shipdate": _days(rng, 1, 2499, n_line),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
            "ts": pa.array(_EPOCH_2024_US + ev_ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), type=pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}

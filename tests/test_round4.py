"""Round-4 additions: param-keyed cdc workdir caches, near-dup clustering,
change-feed reads across schema evolution, banded-join candidate budget.
(The round's Miniberg and merge-on-read tests live in test_miniberg.py.)"""

from __future__ import annotations

import os

from recidiviz_data_spark.operators.cdcops import (
    APPLY_GEN,
    changelog_dir,
    ensure_changelog,
)


def test_cdc_workdir_keyed_on_generator_params():
    """Changing ANY gen_changelog argument must land in a fresh workdir and
    regenerate — a stale /tmp changelog from older parameters can never be
    served (round-3 verdict: the old key was (sf_dir, tag) only)."""
    p1 = dict(APPLY_GEN)
    p2 = {**APPLY_GEN, "n_events": APPLY_GEN["n_events"] + 1}
    d1, d2 = changelog_dir("apply", p1), changelog_dir("apply", p2)
    assert d1 != d2

    c1 = ensure_changelog("apply", p1)
    sentinel = os.path.join(c1, "_GEN_SUCCESS")
    mtime = os.path.getmtime(sentinel)
    # identical params: cached, no regeneration
    assert ensure_changelog("apply", p1) == c1
    assert os.path.getmtime(sentinel) == mtime
    # different params: provably regenerates into the new dir
    c2 = ensure_changelog("stream", {**p1, "n_docs": 50, "n_events": 200})
    assert c2 != c1
    assert os.path.exists(os.path.join(c2, "_GEN_SUCCESS"))


# ------------------------------------------------ change feed across schemas
def test_table_changes_across_schema_evolution(spark, tmp_path):
    """CDF read spanning a schema-evolution boundary: the old snapshot lacks
    the later-added column; table_changes must null-fill it, not raise."""
    from pyspark.sql import types as T

    from tests.test_miniberg import _mk_table, _stage_file

    table = _mk_table(tmp_path, "t_cdf")
    added = _stage_file(table, 0, [("a", "web", 1), ("b", "web", 2)])
    v1 = table.commit(added_files=added, replaced_buckets=set())
    # evolve: add a column, then write a file carrying it
    new_fields, changed = table.evolve_schema(
        T.StructType([T.StructField("lang", T.StringType(), True)])
    )
    assert changed
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    staging = table.staging_dir()
    os.makedirs(os.path.join(staging, "_bucket=0"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(["a", "c"]),
                "source": pa.array(["web", "code"]),
                "lang": pa.array(["en", "fr"]),
                "_seq": pa.array([3, 4], type=pa.int64()),
                "_deleted": pa.array([False, False]),
            }
        ),
        os.path.join(staging, "_bucket=0", "part-0.parquet"),
    )
    v2 = table.commit(
        added_files=table.collect_staged_files(staging, 1),
        replaced_buckets={0},
        schema_fields=new_fields,
    )
    ev = {r["doc_id"]: r for r in table.table_changes(spark, v1, v2).collect()}
    assert ev["c"]["op"] == "I" and ev["c"]["lang"] == "fr"
    assert ev["a"]["op"] == "U" and ev["a"]["lang"] == "en"  # null -> 'en'
    assert ev["b"]["op"] == "D"


def test_span_dedup_planted(spark):
    """Two docs sharing one 8-word run (plus unique tails) are both flagged
    with exactly the shared span's occurrences and coverage; a doc with no
    cross-doc span is absent."""
    from recidiviz_data_spark.operators.dedup import x_span_dedup

    shared = "one two three four five six seven eight nine"  # 9 words: 2 spans
    docs = spark.createDataFrame(
        [
            (1, shared + " aa bb cc"),
            (2, "xx yy " + shared),
            (3, "totally unrelated words that never repeat anywhere else at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in x_span_dedup(spark, "", docs=docs).collect()}
    assert set(rows) == {1, 2}
    # 9-word shared run = 2 sliding 8-word spans, covering 9 word positions
    assert rows[1]["n_dup_spans"] == 2 and rows[1]["dup_words"] == 9
    assert rows[2]["n_dup_spans"] == 2 and rows[2]["dup_words"] == 9


def test_span_scrub_planted(spark):
    """The scrub stage cuts exactly the masked positions: docs sharing a
    9-word run lose those 9 words, unique tails survive, untouched docs
    come back whitespace-normalized with n_removed=0."""
    from recidiviz_data_spark.operators.dedup import x_span_scrub

    shared = "one two three four five six seven eight nine"
    docs = spark.createDataFrame(
        [
            (1, shared + " aa bb cc"),
            (2, "xx yy " + shared),
            (3, "unique  words   with\todd spacing"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in x_span_scrub(spark, "", docs=docs).collect()}
    assert rows[1]["clean_text"] == "aa bb cc" and rows[1]["n_removed"] == 9
    assert rows[2]["clean_text"] == "xx yy" and rows[2]["n_removed"] == 9
    assert rows[3]["clean_text"] == "unique words with odd spacing"
    assert rows[3]["n_removed"] == 0


def test_band_cap_bounds_identical_signature_flood(spark):
    """A flood of identical docs makes every band bucket quadratic; the
    band cap must bound candidate pairs (dropped bucket => zero pairs from
    it), while an uncapped run explodes to n*(n-1)/2."""
    from recidiviz_data_spark.operators.dedup import d_simhash_banded

    docs = spark.createDataFrame(
        [(i, "same exact words repeated in every single flooded document") for i in range(300)],
        "doc_id long, text string",
    )
    import recidiviz_data_spark.operators.dedup as dd
    import recidiviz_data_spark.operators.relational as rel

    orig = rel.load
    try:
        # route the documents table to the planted corpus
        dd.load = rel.load = lambda spark_, sf_, t: docs
        uncapped = d_simhash_banded(spark, "", band_cap=1 << 30).count()
        capped = d_simhash_banded(spark, "", band_cap=50).count()
    finally:
        dd.load = rel.load = orig
    assert uncapped == 300 * 299 // 2
    assert capped == 0


def test_minhash_band_cap_bounds_flood(spark):
    """100 exact copies (below the shingle DF cap threshold in a 1000-doc
    corpus) share every minhash band; band_cap=50 drops those buckets, the
    default cap keeps them."""
    from recidiviz_data_spark.operators.dedup import d_minhash_lsh

    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(100)]
    rows += [(1000 + i, f"u{i}a u{i}b u{i}c u{i}d u{i}e") for i in range(900)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = d_minhash_lsh(spark, "", docs=docs).count()
    capped = d_minhash_lsh(spark, "", docs=docs, band_cap=50).count()
    assert uncapped == 100 * 99 // 2
    assert capped == 0


def test_connected_components_planted_chain(spark):
    """A~B, B~C must land in ONE cluster (transitive closure, not just
    pairs), keeper = min id; disjoint D~E stays separate; long chains
    converge through the pointer-jumping iterations."""
    from recidiviz_data_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)] + [(i, i + 1) for i in range(100, 120)],
        "d1 long, d2 long",
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(spark, edges).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    # 21-node chain: all collapse to the min label despite diameter 20
    assert all(got[i] == 100 for i in range(100, 121))


def test_connected_components_matches_union_find(spark):
    """Randomized equivalence: the DataFrame label-propagation result must
    equal a driver-side union-find on seeded random graphs (cycles, stars,
    chains, isolated pairs all arise at these densities)."""
    import random

    from recidiviz_data_spark.operators.dedup import connected_components

    for seed, n, m in ((1, 60, 40), (2, 80, 120), (3, 50, 25)):
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {x for e in edges for x in e}
        expected = {x: find(x) for x in nodes}
        # canonical: min node per component
        comp_min: dict[int, int] = {}
        for x, r in expected.items():
            comp_min[r] = min(comp_min.get(r, x), x)
        expected = {x: comp_min[find(x)] for x in nodes}

        df = spark.createDataFrame(edges, "d1 long, d2 long")
        got = {r["node"]: r["cluster_id"] for r in connected_components(spark, df).collect()}
        assert got == expected, (seed, {k: (got.get(k), expected[k]) for k in expected if got.get(k) != expected[k]})


def test_neardup_clusters_planted(spark):
    """End-to-end pair->cluster->keeper on planted near-dup docs: A~B and
    B~C are each similar enough to pair, A and C less so — all three must
    still form one cluster with keeper A."""
    from recidiviz_data_spark.operators.dedup import x_neardup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    words = base.split()
    # 36 unique filler docs so the hot-shingle DF cap (df > nd/10) does not
    # swallow the planted trio's shared shingles (df=3 needs nd >= 30)
    filler = [
        (i, f"filler{i}a filler{i}b filler{i}c filler{i}d filler{i}e")
        for i in range(4, 40)
    ]
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, " ".join(words[:9] + ["mu"])),      # ~A: 8 shared shingles
            (2, " ".join(words[:8] + ["mu", "nu"])),  # ~B more than ~A
            (3, "totally different content with many unrelated words here"),
        ]
        + filler,
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in x_neardup_clusters(spark, "", docs=docs).collect()}
    assert rows[0]["cluster_id"] == rows[1]["cluster_id"] == rows[2]["cluster_id"] == 0
    assert rows[0]["is_keeper"] and not rows[1]["is_keeper"] and not rows[2]["is_keeper"]
    assert rows[3]["cluster_id"] == 3 and rows[3]["is_keeper"]
    assert rows[0]["cluster_size"] == 3 and rows[3]["cluster_size"] == 1

"""Scale-path equivalence tests for the dedup/similarity operators:
- banded SimHash (bucket equi-join) returns EXACTLY the all-pairs result at
  threshold <= 2 (pigeonhole over 4x8-bit bands);
- one Lloyd iteration strictly improves IVF cell quality (mean intra-cell
  squared distance) over seed-only centroids.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_TEST_DIR", "/root/testdata/sf0.01")


def test_simhash_banded_equals_allpairs(spark):
    from recidiviz_data_spark.operators.dedup import d_simhash_banded, d_simhash_neardup

    banded = {tuple(r) for r in d_simhash_banded(spark, SF_DIR).collect()}
    allpairs = {tuple(r) for r in d_simhash_neardup(spark, SF_DIR).collect()}
    assert banded == allpairs
    assert banded  # non-vacuous: sf0.01 has near-dup docs


def test_hot_shingle_df_cap_bounds_candidates(spark):
    """A corpus-wide boilerplate shingle must NOT create O(n²) candidate
    pairs: every doc here shares the header 'terms of service apply', so an
    uncapped shingle equi-join would emit all C(40,2)=780 pairs. With the
    DF cap the header shingles are dropped and only the two genuinely
    near-duplicate docs pair up — in Jaccard AND in the MinHash band join."""
    from recidiviz_data_spark.operators.dedup import (
        d_minhash_lsh,
        d_ngram_jaccard,
        _shingles_capped_hashed,
        _shingles_hashed,
    )
    from recidiviz_data_spark.operators.textops import phash

    n = 40
    rows = [
        # unique body per doc + the planted hot header
        (f"d{i:02d}", f"terms of service apply alpha{i} beta{i} gamma{i} delta{i} eps{i}")
        for i in range(n)
    ]
    # one true near-dup pair: identical long bodies
    dup_body = "the quick brown fox jumps over the lazy dog again and again"
    rows += [("dup_a", dup_body), ("dup_b", dup_body)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    sh_all = _shingles_hashed(spark, None, docs=docs)
    sh_cap = _shingles_capped_hashed(spark, None, docs=docs)
    # the planted header shingles are hot (df = 42 > 42/10) and get dropped
    hot = set(spark.range(1).select(
        phash(F.lit("terms of service")), phash(F.lit("of service apply"))
    ).first())
    assert len(hot) == 2
    kept = {r["h"] for r in sh_cap.select("h").distinct().collect()}
    assert hot & {r["h"] for r in sh_all.select("h").distinct().collect()} == hot
    assert not hot & kept

    jac = d_ngram_jaccard(spark, None, docs=docs).collect()
    assert {(r["d1"], r["d2"]) for r in jac} == {("dup_a", "dup_b")}, jac
    mh = d_minhash_lsh(spark, None, docs=docs).collect()
    # band candidates stay bounded: only the true dup pair, never the n² set
    assert {(r["d1"], r["d2"]) for r in mh} == {("dup_a", "dup_b")}, mh


def test_ivf_multiprobe_recall_monotone(spark):
    """nprobe is IVF's recall knob: more probed cells -> recall vs the
    brute-force top-k can only improve; nprobe=1 matches e_ann_ivf."""
    from recidiviz_data_spark.operators.similarity import e_ann_ivf, e_ann_topk, ivf_search

    truth = {}
    for r in e_ann_topk(spark, SF_DIR).collect():  # top-5 per query
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(nprobe):
        got = {}
        for r in ivf_search(spark, SF_DIR, k=5, nprobe=nprobe).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    r1, r2, r3 = recall(1), recall(2), recall(3)
    assert r3 >= r2 >= r1, (r1, r2, r3)
    # deterministic input -> fixed values (0.26 / 0.38 / 0.52 at sf0.01);
    # the floor guards against a probe-selection regression silently
    # gutting recall while staying monotone
    assert r3 >= 0.4, (r1, r2, r3)
    # consistency: nprobe=1 at k=3 reproduces the contract query exactly
    a = {tuple(r) for r in ivf_search(spark, SF_DIR, k=3, nprobe=1).collect()}
    b = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in e_ann_ivf(spark, SF_DIR).collect()
    }
    assert a == b


def test_ivf_lloyd_improves_cells(spark):
    from recidiviz_data_spark.operators.similarity import ivf_assign

    def mean_dist2(lloyd_iters):
        _, assign = ivf_assign(spark, SF_DIR, lloyd_iters=lloyd_iters)
        return assign.agg(F.avg("dist2")).first()[0]

    seed, refined = mean_dist2(0), mean_dist2(1)
    assert refined < seed, (seed, refined)

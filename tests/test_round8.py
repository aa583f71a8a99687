"""Round-8 optimization equivalence tests: every operator whose INTERNALS
changed this round is pinned against a straightforward reference
implementation of the old shape (the oracles already pin end-to-end results;
these pin the specific rewritten kernels, with tiebreaks).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SF = "/root/testdata/sf0.01"


def _sorted_rows(df):
    cols = df.columns
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_zipwith_shingles_match_slice_transform(spark):
    """_shingles_raw's zip_with-over-shifted-slices == the round-7
    transform(sequence, i -> concat_ws(slice(w, i, 3))) form, row-exact
    (including <3-word docs producing no shingles)."""
    from recidiviz_data_spark.operators.dedup import _shingles_raw

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "  padded   whitespace\tand  tabs here "),
            (3, "two words"),
            (4, "one"),
            (5, ""),
            (6, "x x x x"),  # repeated words: array_distinct inside the row
        ],
        "doc_id long, text string",
    )
    new = _shingles_raw(spark, None, docs=docs)

    words = F.split(F.trim("text"), r"\s+")
    ref_sh = F.when(
        F.size(words) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 2),
            lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ref = docs.select("doc_id", F.explode(F.array_distinct(ref_sh)).alias("shingle"))
    assert _sorted_rows(new) == _sorted_rows(ref)


def test_simhash_columnar_votes_match_bit_explode(spark):
    """_simhash_sig's 32-conditional-sum-column aggregate == the round-7
    x32 bit-row explode + two groupBys, value-exact per doc."""
    from recidiviz_data_spark.operators.dedup import _simhash_sig
    from recidiviz_data_spark.operators.textops import phash

    new = _simhash_sig(spark, SF)

    from recidiviz_data_spark.operators.relational import load

    d = load(spark, SF, "documents")
    tokens = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
    ).withColumn("h", phash(F.col("word")))
    bits = (
        tokens.select("doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("i"))
        .groupBy("doc_id", "i")
        .agg(F.sum(F.when(F.expr("shiftright(h, i) & 1") == 1, 1).otherwise(-1)).alias("s"))
    )
    ref = bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), i)")).otherwise(0)
        ).alias("simhash")
    )
    assert _sorted_rows(new) == _sorted_rows(ref)


def test_nearest_cents_matches_window_reference(spark):
    """The numpy mapInPandas centroid assignment == the round-7 cross-join +
    row_number window, including the (dist2, cent_id) tiebreak, for n=1 and
    n=2 — on vectors engineered to contain exact distance TIES."""
    from recidiviz_data_spark.operators.similarity import _dot, _nearest_cents

    # two centroids equidistant from every point in group B: tie must break
    # toward the LOWER cent_id in both implementations
    vecs = [
        (0, [0, 0, 10], ),
        (7, [0, 10, 0], ),
        (1, [0, 5, 5], ),   # exactly between cent 0 and cent 7
        (2, [0, 0, 9], ),
        (3, [1, 9, 0], ),
        (4, [3, 3, 3], ),
    ]
    iv = spark.createDataFrame(
        [(i, [int(x) for x in v]) for i, v in vecs], "vec_id long, v array<bigint>"
    ).withColumn("n2", _dot(F.col("v"), F.col("v")).cast("double"))
    cents = iv.filter("vec_id in (0, 7)").select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("n2").alias("cn2")
    )

    def reference(n):
        dist2 = F.col("n2") + F.col("cn2") - 2 * _dot(F.col("v"), F.col("cv"))
        w = Window.partitionBy("vec_id").orderBy(F.col("dist2"), F.col("cent_id"))
        return (
            iv.crossJoin(F.broadcast(cents))
            .withColumn("dist2", dist2)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .select("vec_id", "cent_id", "dist2", "rn")
        )

    for n in (1, 2):
        got = _sorted_rows(_nearest_cents(iv, cents, n))
        want = _sorted_rows(reference(n))
        assert got == want, f"n={n}: {got} != {want}"
    # no centroids: no rows (as the cross join gives), in the same schema
    none = _nearest_cents(iv, cents.limit(0), 1)
    assert none.schema.simpleString() == (
        "struct<vec_id:bigint,cent_id:bigint,dist2:double,rn:int>")
    assert none.count() == 0


def test_banded_levenshtein_matches_plain(spark):
    """levenshtein(a, b, 2) >= 0 selects exactly the lev <= 2 pairs and
    returns the same distances (the j2_fuzzy_match rewrite)."""
    names = ["abcdef", "abcdeX", "abXdeY", "XbXdeX", "abcde", "abc", "abcdefgh"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(names)], "i long, s string")
    a = df.select(F.col("i").alias("ai"), F.col("s").alias("as_"))
    b = df.select(F.col("i").alias("bi"), F.col("s").alias("bs"))
    pairs = a.crossJoin(b)
    plain = pairs.select(
        "ai", "bi", F.levenshtein("as_", "bs").alias("d")
    ).filter("d <= 2")
    banded = pairs.select(
        "ai", "bi", F.levenshtein(F.col("as_"), F.col("bs"), 2).alias("d")
    ).filter("d >= 0")
    assert _sorted_rows(plain) == _sorted_rows(banded)


def test_minhash_signature_single_exchange(spark):
    """The hashed shingle pipeline shares ONE exchange between the distinct
    and the per-doc signature aggregate: the plan below the band explode has
    exactly one shuffle of the (doc_id, h) stream."""
    from recidiviz_data_spark.operators.dedup import _shingles_hashed

    df = _shingles_hashed(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one repartition exchange; the distinct's aggregate must NOT add another
    assert plan.count("Exchange hashpartitioning") == 1, plan


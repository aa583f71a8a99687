"""Similarity search over the ``embeddings`` table (``array<float>``, dim 64):
brute-force cosine top-k (baseline) and an LSH-bucketed variant (scale path).

Exactness: vectors are integer-scaled (``round(x*1000)`` per element) so dot
products and norms are exact integers in both engines; cosine = exact_dot /
sqrt(exact*exact) is a single IEEE-deterministic double op chain — results are
bit-identical between Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recidiviz_data_spark.operators.base import _q, _qx
from recidiviz_data_spark.operators.relational import load
from recidiviz_data_spark.operators.textops import PHASH_SQL, phash
from recidiviz_data_spark.session import materialize

N_PLANES = 4  # LSH: 2^4 = 16 buckets over ~500 vectors at sf0.01


def _scaled(spark, sf_dir):
    # repartition past the single input split: zip_with/aggregate lambdas are
    # expression-interpreted (no codegen), so dot products on a one-file demo
    # input would otherwise run on one task; no-op rebalance on a lake input
    e = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )  # hash, not round-robin: no sortBeforeRepartition pass, deterministic
    iv = F.transform("embedding", lambda x: F.round(x.cast("double") * 1000).cast("long"))
    out = e.select("vec_id", "label", iv.alias("v"))
    # precompute the (exact) squared norm ONCE per vector — pair queries then
    # evaluate a single dot product per candidate instead of three.
    # localCheckpoint: every ANN op consumes this table at least twice
    # (query side + corpus side of a self-join; IVF adds centroid seeding
    # and Lloyd passes) and the plain DAG re-runs the interpreted scale
    # transform per consumer (measured: topk 1.0 -> 0.5 s, lsh 1.6 -> 1.1,
    # ivf 2.5 -> 1.6 at sf0.1). At lake scale this materialization IS the
    # persisted index layout — ivf_index_build writes exactly these columns.
    return materialize(
        out.withColumn("n2", _dot(F.col("v"), F.col("v")).cast("double"))
    )


_SCALED_SQL = """
  iv0 AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          FROM embeddings),
  iv AS (SELECT *, list_dot_product(v, v) AS n2 FROM iv0)
"""


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


@_q(
    "e_vector_stats",
    f"""
    WITH {_SCALED_SQL}
    SELECT vec_id, label,
           len(v) AS dim,
           v[1] AS first_scaled,
           CAST(list_dot_product(v, v) AS BIGINT) AS norm_sq,
           sqrt(CAST(list_dot_product(v, v) AS DOUBLE)) AS l2_norm
    FROM iv
    """,
)
def e_vector_stats(spark, sf_dir):
    """Array-function surface on embeddings: size/element_at/zip_with/aggregate.

    norm_sq and l2_norm both derive from _scaled's precomputed n2 (exact:
    dot(v,v) <= 64 * 10^6 is far below 2^53) instead of re-running the O(dim)
    dot-product aggregate per output column — HOF lambda bodies get no
    common-subexpression elimination, so a repeated _dot literally doubles
    the per-row work (CollapseProject won't inline n2 back in: it is a
    non-cheap alias referenced twice; same pattern as
    x_winnowing_fingerprint)."""
    iv = _scaled(spark, sf_dir)
    return iv.select(
        "vec_id", "label",
        F.size("v").alias("dim"),
        F.element_at("v", 1).alias("first_scaled"),
        F.col("n2").cast("long").alias("norm_sq"),
        F.sqrt("n2").alias("l2_norm"),
    )


_COS_SQL = "list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2)"


@_qx(
    "e_cosine_neardup",
    f"""
    WITH {_SCALED_SQL}
    SELECT a.vec_id AS v1, b.vec_id AS v2, {_COS_SQL} AS cosine
    FROM iv a JOIN iv b ON a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= 0.4
    """,
)
def e_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (brute-force verification scan;
    the LSH-bucketed query below is the at-scale candidate generator)."""
    iv = _scaled(spark, sf_dir)
    a, b = iv.alias("a"), iv.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")).cast("double") / F.sqrt(
        F.col("a.n2") * F.col("b.n2")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("v1"), F.col("b.vec_id").alias("v2"), cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )


@_qx(
    "x_embedding_clusters",
    f"""
    WITH RECURSIVE {_SCALED_SQL},
    prs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
            FROM iv a JOIN iv b ON a.vec_id < b.vec_id
            WHERE {_COS_SQL} >= 0.4),
    edges AS (SELECT d1 AS a, d2 AS b FROM prs UNION ALL SELECT d2, d1 FROM prs),
    reach(node, lbl) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT vec_id, cluster_id, vec_id = cluster_id AS is_keeper FROM (
      SELECT vec_id, cluster_id FROM comp
      UNION ALL
      SELECT e.vec_id, e.vec_id FROM embeddings e
      WHERE e.vec_id NOT IN (SELECT vec_id FROM comp))
    """,
)
def x_embedding_clusters(spark, sf_dir):
    """Embedding-space duplicate clusters: cosine near-dup pairs (>= 0.4)
    collapsed by the SAME connected-components engine the text dedup uses
    (operators/dedup.py::connected_components) — keeper = min vec_id,
    singletons included, so filter(is_keeper) dedups the embedding corpus.
    At scale the edge set comes from the LSH-bucketed candidate generator
    instead of this brute-force verifier; the clustering pass is identical."""
    from recidiviz_data_spark.operators.dedup import connected_components

    pairs = e_cosine_neardup(spark, sf_dir).select("v1", "v2")
    comp = connected_components(spark, pairs, "v1", "v2")
    emb = load(spark, sf_dir, "embeddings").select("vec_id")
    singles = emb.join(
        comp.select(F.col("node").alias("vec_id")), "vec_id", "left_anti"
    ).withColumn("cluster_id", F.col("vec_id"))
    allc = comp.select(F.col("node").alias("vec_id"), "cluster_id").unionByName(singles)
    return allc.select(
        "vec_id", "cluster_id", (F.col("vec_id") == F.col("cluster_id")).alias("is_keeper")
    )


@_q(
    "e_ann_topk",
    f"""
    WITH {_SCALED_SQL},
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS neighbor_label,
             {_COS_SQL} AS cosine
      FROM iv a JOIN iv b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < 10)
    SELECT query_id, neighbor_id, neighbor_label, cosine
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def e_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k per query vector — the correctness baseline
    for ANN (broadcast the query set; scan the corpus once)."""
    iv = _scaled(spark, sf_dir)
    q = iv.filter("vec_id < 10").alias("a")
    b = iv.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")).cast("double") / F.sqrt(
        F.col("a.n2") * F.col("b.n2")
    )
    scored = (
        F.broadcast(q)
        .join(b, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.col("b.label").alias("neighbor_label"),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter("rn <= 5").drop("rn")


# pseudo-random hyperplane weights, identical in both engines:
# w(p, d) = (md5int60(p || ':' || d) % 2001) - 1000
_PLANES_SQL = f"""
  planes AS (SELECT p, d,
                    ({PHASH_SQL.format(x="concat(CAST(p AS VARCHAR), ':', CAST(d AS VARCHAR))")} % 2001) - 1000 AS w
             FROM UNNEST(generate_series(0, {N_PLANES - 1})) tp(p),
                  UNNEST(generate_series(1, 64)) td(d)),
  dots AS (SELECT iv.vec_id, planes.p, SUM(planes.w * iv.v[planes.d]) AS dot
           FROM iv, planes GROUP BY iv.vec_id, planes.p),
  buckets AS (SELECT vec_id,
                     SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
              FROM dots GROUP BY vec_id)
"""


@_q(
    "e_ann_lsh_bucketed",
    f"""
    WITH {_SCALED_SQL},
    {_PLANES_SQL},
    cand AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS_SQL} AS cosine
      FROM (SELECT iv.*, bucket FROM iv JOIN buckets USING (vec_id)) a
      JOIN (SELECT iv.*, bucket FROM iv JOIN buckets USING (vec_id)) b
        ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
      WHERE a.vec_id < 10)
    SELECT query_id, neighbor_id, cosine
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) rn FROM cand)
    WHERE rn <= 3
    """,
)
def e_ann_lsh_bucketed(spark, sf_dir):
    """Scale-path ANN: random-hyperplane LSH buckets (sign-bit signature) ->
    candidates share a bucket -> exact cosine only within bucket. At 100TB the
    bucket equi-join replaces the corpus scan entirely."""
    iv = _scaled(spark, sf_dir)
    spark_planes = spark.range(N_PLANES).select(
        F.col("id").cast("int").alias("p"),
        F.explode(F.sequence(F.lit(1), F.lit(64))).alias("d"),
    ).select(
        "p", "d",
        (phash(F.concat(F.col("p").cast("string"), F.lit(":"), F.col("d").cast("string"))) % 2001 - 1000).alias("w"),
    )
    dims = iv.select("vec_id", F.posexplode("v").alias("d0", "x")).withColumn(
        "d", F.col("d0") + 1
    )
    dots = (
        dims.join(F.broadcast(spark_planes), "d")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("w") * F.col("x")).alias("dot"))
    )
    buckets = dots.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("dot") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), p)")).otherwise(0)
        ).alias("bucket")
    )
    ivb = iv.join(buckets, "vec_id")
    a = ivb.filter("vec_id < 10").alias("a")
    b = ivb.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")).cast("double") / F.sqrt(
        F.col("a.n2") * F.col("b.n2")
    )
    cand = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("b.vec_id") != F.col("a.vec_id"))
    ).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        cos.alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return cand.withColumn("rn", F.row_number().over(w)).filter("rn <= 3").drop("rn")


# IVF: deterministic seed centroids (every 31st vector) refined by one Lloyd
# iteration. Centroid components are floor(mean) on the int-scaled vectors so
# the k-means step stays in exact integer arithmetic in both engines (IEEE
# double division of exact ints + floor is bit-portable); distances are then
# exact integers again.
_IVF_SQL = f"""
  cents0 AS (SELECT vec_id AS cent_id, v AS cv, n2 AS cn2 FROM iv WHERE vec_id % 31 = 0),
  assign0 AS (
    SELECT vec_id, cent_id FROM (
      SELECT iv.vec_id, cents0.cent_id,
             row_number() OVER (PARTITION BY iv.vec_id
                                ORDER BY iv.n2 + cents0.cn2 - 2 * list_dot_product(iv.v, cents0.cv),
                                         cents0.cent_id) AS rn
      FROM iv, cents0) WHERE rn = 1),
  dims AS (SELECT a.cent_id, t.d, iv.v[t.d] AS x
           FROM iv JOIN assign0 a USING (vec_id),
                UNNEST(generate_series(1, 64)) t(d)),
  newc AS (SELECT cent_id, d, CAST(floor(SUM(x) / COUNT(*)) AS BIGINT) AS cx
           FROM dims GROUP BY cent_id, d),
  cents1 AS (SELECT cent_id, list(cx ORDER BY d) AS cv FROM newc GROUP BY cent_id),
  cents AS (SELECT cent_id, cv, list_dot_product(cv, cv) AS cn2 FROM cents1),
  assign AS (
    SELECT vec_id, cent_id, dist2 FROM (
      SELECT iv.vec_id, cents.cent_id,
             iv.n2 + cents.cn2 - 2 * list_dot_product(iv.v, cents.cv) AS dist2,
             row_number() OVER (PARTITION BY iv.vec_id
                                ORDER BY iv.n2 + cents.cn2 - 2 * list_dot_product(iv.v, cents.cv),
                                         cents.cent_id) AS rn
      FROM iv, cents) WHERE rn = 1)
"""


_IVF_ORACLE = f"""
    WITH {_SCALED_SQL},
    {_IVF_SQL},
    cand AS (
      SELECT qa.vec_id AS query_id, b.vec_id AS neighbor_id,
             qa.cent_id AS cell, {_COS_SQL}
               AS cosine
      FROM (SELECT iv.*, assign.cent_id FROM iv JOIN assign USING (vec_id)
            WHERE vec_id < 10) qa
      JOIN assign ba ON ba.cent_id = qa.cent_id AND ba.vec_id <> qa.vec_id
      JOIN iv b ON b.vec_id = ba.vec_id,
      LATERAL (SELECT qa.v AS v, qa.n2 AS n2) a)
    SELECT query_id, neighbor_id, cell, cosine
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) rn FROM cand)
    WHERE rn <= 3
    """


def _nearest_cents(iv, cents, n: int = 1):
    """Rank centroids per vector by exact squared L2 on the int-scaled
    vectors (centroid-id tiebreak), keep the nearest ``n``. Centroids are
    collected once (O(sqrt corpus) rows — the same relation the previous
    form built into a broadcast) and the corpus is scored in a vectorized
    numpy mapInPandas (guide §4.2): one int64 matmul per Arrow batch
    replaces an interpreted 64-dim zip_with/aggregate dot per (vector,
    centroid) pair PLUS a corpus x centroids row_number sort window
    (measured: e_ann_ivf 101 -> ~3 s at sf1.0, where the cross join was
    12.9M interpreted dots and two 12.9M-row rank windows). Exactness:
    dist2 = n2 + cn2 - 2*dot is pure int64 arithmetic (|v| <= ~1e3 scaled,
    dot <= 64e6 — no overflow, and exactly representable as the double the
    old plan produced); ties break by ascending cent_id via a STABLE
    argsort over centroid columns pre-sorted by cent_id — the same
    (dist2, cent_id) total order as the row_number window."""
    import numpy as np
    import pandas as pd

    rows = sorted(cents.select("cent_id", "cv", "cn2").collect(),
                  key=lambda r: r["cent_id"])
    if not rows:  # no centroids: the old cross join yielded no rows either
        from recidiviz_data_spark.tables.miniberg import Miniberg

        return Miniberg.empty_frame(
            iv.sparkSession, "vec_id long, cent_id long, dist2 double, rn int"
        )
    C = np.array([r["cv"] for r in rows], dtype=np.int64)
    cn2 = np.array([int(r["cn2"]) for r in rows], dtype=np.int64)
    cids = np.array([r["cent_id"] for r in rows], dtype=np.int64)
    k = min(n, len(rows))
    bc = iv.sparkSession.sparkContext.broadcast((C, cn2, cids, k))

    def assign(batches):
        C, cn2, cids, k = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.int64)
            n2 = pdf["n2"].to_numpy().astype(np.int64)
            D = n2[:, None] + cn2[None, :] - 2 * (V @ C.T)
            idx = np.argsort(D, axis=1, kind="stable")[:, :k]
            rr = np.arange(len(pdf))[:, None]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), k),
                    "cent_id": cids[idx].ravel(),
                    "dist2": D[rr, idx].ravel().astype(np.float64),
                    "rn": np.tile(np.arange(1, k + 1, dtype=np.int32), len(pdf)),
                }
            )

    return iv.select("vec_id", "v", "n2").mapInPandas(
        assign, schema="vec_id long, cent_id long, dist2 double, rn int"
    )


def _nearest_cent(iv, cents):
    return _nearest_cents(iv, cents, 1).drop("rn")


def _lloyd_step(iv, assign):
    """One Lloyd iteration: recompute each cell's centroid as the elementwise
    floor(mean) of its members (exact: IEEE division of exact ints + floor is
    bit-portable, and distances return to pure integer arithmetic).
    posexplode -> groupBy(cell, dim) -> re-assemble with sort_array."""
    dims = iv.join(assign.select("vec_id", "cent_id"), "vec_id").select(
        "cent_id", F.posexplode("v").alias("d", "x")
    )
    newc = (
        dims.groupBy("cent_id", "d")
        .agg(F.floor(F.sum("x") / F.count("*")).alias("cx"))
        .groupBy("cent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "cx"))), lambda s: s["cx"]
            ).alias("cv")
        )
    )
    return newc.withColumn("cn2", _dot(F.col("cv"), F.col("cv")).cast("double"))


def ivf_assign(spark, sf_dir, lloyd_iters: int = 1, with_cents: bool = False,
               vectors=None):
    """Seed centroids (every 31st vector) + `lloyd_iters` refinement passes.
    Returns (iv, assign) — the final per-vector (vec_id, cent_id, dist2)
    assignment — or (iv, cents, assign) when ``with_cents``. ``vectors``
    overrides the embeddings-table read with a prepared (vec_id, label, v,
    n2) frame (e.g. a CDC table's payload for a snapshot-keyed index)."""
    iv = vectors if vectors is not None else _scaled(spark, sf_dir)
    cents = iv.filter("vec_id % 31 = 0").select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("n2").alias("cn2")
    )
    assign = _nearest_cent(iv, cents)
    for _ in range(lloyd_iters):
        cents = _lloyd_step(iv, assign)
        assign = _nearest_cent(iv, cents)
    if with_cents:
        return iv, cents, assign
    return iv, assign


def ivf_search(spark, sf_dir, *, k: int = 3, nprobe: int = 1,
               lloyd_iters: int = 1, query_filter: str = "vec_id < 10"):
    """Multi-probe IVF: each query ranks centroids and searches its nearest
    ``nprobe`` cells (exact cosine within them) — the recall/compute knob of
    a real IVF index. nprobe=1 with the default filter reproduces
    ``e_ann_ivf``; raising nprobe monotonically widens the candidate set
    toward the brute-force answer. At 100TB the probe set selects which
    cell-partitioned files are read — compute scales with nprobe, never with
    the corpus."""
    iv, cents, assign = ivf_assign(spark, sf_dir, lloyd_iters, with_cents=True)
    q = iv.filter(query_filter)
    probes = _nearest_cents(q, cents, nprobe).select(
        F.col("vec_id").alias("query_id"), "cent_id"
    )
    qa = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    ).join(probes, "query_id")
    cand = (
        qa.join(assign.select("vec_id", "cent_id"), "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(iv, "vec_id")
    )
    cos = _dot(F.col("qv"), F.col("v")).cast("double") / F.sqrt(
        F.col("qn2") * F.col("n2")
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    ).distinct()  # a neighbor reachable via several probed cells counts once
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    ).drop("rn")


# recall@3 of the two approximate paths vs the exact brute-force top-3 — the
# number an operator actually tunes bands/nprobe with. Deterministic in both
# engines: candidates, cosines, and tiebreaks are exact integer arithmetic.
_RECALL_ORACLE = f"""
    WITH {_SCALED_SQL},
    {_PLANES_SQL},
    {_IVF_SQL},
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_COS_SQL} DESC, b.vec_id) rn
        FROM iv a JOIN iv b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < 10) WHERE rn <= 3),
    lshtop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_COS_SQL} DESC, b.vec_id) rn
        FROM (SELECT iv.*, bucket FROM iv JOIN buckets USING (vec_id)) a
        JOIN (SELECT iv.*, bucket FROM iv JOIN buckets USING (vec_id)) b
          ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
        WHERE a.vec_id < 10) WHERE rn <= 3),
    ivftop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qa.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qa.vec_id
                                  ORDER BY {_COS_SQL} DESC, b.vec_id) rn
        FROM (SELECT iv.*, assign.cent_id FROM iv JOIN assign USING (vec_id)
              WHERE vec_id < 10) qa
        JOIN assign ba ON ba.cent_id = qa.cent_id AND ba.vec_id <> qa.vec_id
        JOIN iv b ON b.vec_id = ba.vec_id,
        LATERAL (SELECT qa.v AS v, qa.n2 AS n2) a) WHERE rn <= 3),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM truth),
    hits AS (
      SELECT 'ivf' AS method, CAST(COUNT(*) AS BIGINT) AS hits
      FROM ivftop JOIN truth USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'lsh' AS method, CAST(COUNT(*) AS BIGINT) AS hits
      FROM lshtop JOIN truth USING (query_id, neighbor_id))
    SELECT method, hits, total, CAST(hits AS DOUBLE) / total AS recall
    FROM hits CROSS JOIN tot
    """


@_qx("x_ann_recall", _RECALL_ORACLE)
def x_ann_recall(spark, sf_dir):
    """recall@3 of the LSH-bucketed and IVF (nprobe=1) ANN paths against the
    exact brute-force top-3 — the measurement a pipeline operator tunes
    bands/nprobe with. One row per method: (method, hits, total, recall)."""
    iv = _scaled(spark, sf_dir)
    q = iv.filter("vec_id < 10").alias("a")
    b = iv.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")).cast("double") / F.sqrt(
        F.col("a.n2") * F.col("b.n2")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    truth = (
        F.broadcast(q)
        .join(b, F.col("b.vec_id") != F.col("a.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .select("query_id", "neighbor_id")
    )
    lsh = e_ann_lsh_bucketed(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = e_ann_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    total = truth.agg(F.count("*").alias("total"))

    def _hits(approx, method):
        return approx.join(truth, ["query_id", "neighbor_id"]).agg(
            F.count("*").alias("hits")
        ).select(F.lit(method).alias("method"), "hits")

    return (
        _hits(ivf, "ivf")
        .unionByName(_hits(lsh, "lsh"))
        .crossJoin(F.broadcast(total))
        .withColumn("recall", F.col("hits").cast("double") / F.col("total"))
    )


# --------------------------------------------------------------------------
# materialized IVF index (round-4 verdict item 3): the assignment persisted
# ONCE as a cell-partitioned layout; every later search reads the tiny
# centroid table + only the probed cells' files — centroids are never
# recomputed per query, and partition pruning replaces the corpus scan.

def ivf_index_path(sf_dir: str) -> str:
    import os
    import tempfile

    from recidiviz_data_spark.operators.relational import _roundtrip_cache_tag

    tag = _roundtrip_cache_tag(sf_dir, "embeddings")
    return os.path.join(tempfile.gettempdir(), f"rds_ivfidx_{tag}")


def _ivf_payload(base: str) -> str:
    """The immutable payload dir holding ``vectors/`` + ``centroids/``:
    the artifact store's CURRENT version of an artifact base, else ``base``
    itself — a version payload a pinned reader resolved already (see
    ``artifacts.pinned``)."""
    from recidiviz_data_spark.tables import artifacts

    r = artifacts.resolve(base)
    return r[0] if r is not None else base


def ivf_index_build(spark, sf_dir, path: str | None = None, *,
                    lloyd_iters: int = 1, vectors=None, key: str | None = None) -> str:
    """Materialize the IVF index: vectors hive-partitioned by their cell
    (``cell=<cent_id>/`` — the write-time partition key the e_ann_ivf
    docstring promises) plus the centroid table (K rows — the only thing a
    search must always read). Published through the versioned artifact
    store: the build lands as an immutable version dir behind an atomic
    CURRENT flip, cache-keyed on the SOURCE identity — pass ``vectors`` +
    ``key=artifacts.miniberg_source_key(table)`` to key an index on a CDC
    table's snapshot version (a commit then invalidates it by
    construction); the default keys on the embeddings parquet's identity.
    At lake scale this is the nightly index build. An index that follows a
    CDC table is built and mutated by ``ivf_index_sync`` alone, which appends
    against the stored centroids and re-trains in its stale-fraction
    rebuild."""
    from recidiviz_data_spark.operators.relational import _roundtrip_cache_tag
    from recidiviz_data_spark.tables import artifacts

    base = path or ivf_index_path(sf_dir)
    key = key or f"parquet:{_roundtrip_cache_tag(sf_dir, 'embeddings')}:li{lloyd_iters}"

    def _build(stage: str) -> None:
        import os

        iv, cents, assign = ivf_assign(
            spark, sf_dir, lloyd_iters, with_cents=True, vectors=vectors
        )
        vecs = iv.join(assign.select("vec_id", "cent_id"), "vec_id").select(
            "vec_id", "label", "v", "n2", F.col("cent_id").alias("cell")
        )
        vecs.write.partitionBy("cell").parquet(os.path.join(stage, "vectors"))
        cents.write.parquet(os.path.join(stage, "centroids"))

    artifacts.ensure(base, key, _build)
    return base


def table_ivf_index_path(table) -> str:
    """Default artifact location for an IVF index synced to a miniberg table
    — keyed on the table's uuid, so every table gets its own index dir."""
    from recidiviz_data_spark.tables import artifacts

    return artifacts.default_path(table, "ivfidx_tbl")


def table_vectors(df):
    """(vec_id, label, v, n2) from a CDC table's (doc_id, embedding) payload:
    ``vec_id`` = portable md5-int60 of doc_id (centroid seeding and search
    tiebreaks need an integer id), ``label`` = doc_id, ``v``/``n2`` the
    int-scaled vector + exact squared norm (same columns _scaled prepares
    from the embeddings parquet)."""
    iv = F.transform("embedding", lambda x: F.round(x.cast("double") * 1000).cast("long"))
    out = df.select(
        phash(F.col("doc_id")).alias("vec_id"),
        F.col("doc_id").alias("label"),
        iv.alias("v"),
    )
    return out.withColumn("n2", _dot(F.col("v"), F.col("v")).cast("double"))


def ivf_index_sync(spark, table, path: str | None = None, *,
                   rebuild_stale_fraction: float = 0.25,
                   lloyd_iters: int = 1, changes=None,
                   from_version: int | None = None,
                   to_version: int | None = None) -> dict:
    """Keep the materialized IVF index in step with a miniberg CDC table —
    the vector-search mirror of ``band_index_sync``, plus the one thing a
    top-k index needs that a candidate index does not: DELETES MUST AFFECT
    RESULTS (a deleted doc in a band index only costs a candidate that
    verification rejects; a deleted doc in a top-k answer is wrong output).

    Appends therefore carry a generation stamp: every vector row gets
    ``gen`` = the snapshot version that introduced it, and a ``dead/`` list
    records ``(vec_id, dead_gen)`` meaning "rows of this vec_id with
    gen < dead_gen are superseded" — an update kills the doc's older rows
    while its freshly appended row (gen = current version) survives; a
    delete kills them all. ``ivf_index_search`` applies the list as a
    broadcast filter on the probed cells; a re-inserted doc's newer rows
    out-generation the tombstone naturally. Once stale vectors exceed
    ``rebuild_stale_fraction`` of live ones, sync re-trains and rewrites the
    layout (folding the dead list away) — the FAISS remove-list + periodic
    rebuild contract. Every publication is an atomic artifact-store flip,
    and an append is a CAS: a racing sync that loses it re-enters and finds
    the index current.

    ``changes`` (op/doc_id/embedding) skips the version diff when the caller
    already holds the CDC events; it must come with ``from_version`` /
    ``to_version`` = the snapshots the events span, and is applied only if
    that span is (the version in the index's own ``sync.json``, the table's
    current version), else the sync falls back to its own diff — a
    wider-span event set would re-append rows an intermediate sync already
    landed, a shorter one would stamp a stale index current. Returns
    {action, version, live_docs, stale_docs, appended_docs}."""
    call = dict(locals())  # every bound argument, for the conflict re-entry
    import os

    from recidiviz_data_spark.operators.dedup import index_delta
    from recidiviz_data_spark.tables import artifacts
    from recidiviz_data_spark.tables.miniberg import Miniberg

    base = path or table_ivf_index_path(table)
    uid = artifacts.table_uid(table)
    dead_schema = "vec_id long, dead_gen int"

    def _rebuild(cur_v: int) -> dict:
        vecs = materialize(table_vectors(table.read(spark).select("doc_id", "embedding")))
        live = vecs.count()
        meta = {"table_uuid": uid, "version": cur_v,
                "live_docs": live, "stale_docs": 0}

        def _build(stage: str) -> None:
            os.makedirs(stage)
            iv, cents, assign = ivf_assign(
                spark, None, lloyd_iters, with_cents=True, vectors=vecs
            )
            out = iv.join(assign.select("vec_id", "cent_id"), "vec_id").select(
                "vec_id", "label", "v", "n2",
                F.lit(cur_v).alias("gen"), F.col("cent_id").alias("cell"),
            )
            out.write.partitionBy("cell").parquet(os.path.join(stage, "vectors"))
            cents.write.parquet(os.path.join(stage, "centroids"))
            Miniberg.empty_frame(spark, dead_schema).write.parquet(
                os.path.join(stage, "dead")
            )
            artifacts.write_sync_meta(stage, meta)

        artifacts.ensure(base, f"miniberg:{uid}:v{cur_v}", _build)
        return {"action": "rebuild", "version": cur_v, "live_docs": live,
                "stale_docs": 0, "appended_docs": 0}

    def _advance(r0, meta, cur_v: int, changes) -> dict:
        changes, appended, live, stale = index_delta(
            spark, table, meta, cur_v, changes, "embedding")
        if stale > rebuild_stale_fraction * max(live, 1):
            return _rebuild(cur_v)

        payload, old_key, seq = r0
        cents = spark.read.parquet(os.path.join(payload, "centroids"))
        new_vecs = table_vectors(
            changes.filter(F.col("op").isin("I", "U")).select("doc_id", "embedding")
        )
        assigned = new_vecs.join(
            _nearest_cent(new_vecs, cents).select("vec_id", "cent_id"), "vec_id"
        ).select(
            "vec_id", "label", "v", "n2",
            F.lit(cur_v).alias("gen"), F.col("cent_id").alias("cell"),
        )
        merged_dead = (
            spark.read.parquet(os.path.join(payload, "dead"))
            .unionByName(
                changes.filter(F.col("op").isin("U", "D")).select(
                    phash(F.col("doc_id")).alias("vec_id"),
                    F.lit(cur_v).alias("dead_gen"),
                )
            )
            .groupBy("vec_id")
            .agg(F.max("dead_gen").alias("dead_gen"))
        )
        new_meta = {"table_uuid": uid, "version": cur_v,
                    "live_docs": live, "stale_docs": stale}

        def _build(stage: str) -> None:
            os.makedirs(stage)
            # vectors + centroids carried as hardlinks; dead/ and sync.json are
            # rewritten per version (each version's bookkeeping is its own)
            artifacts.link_tree(os.path.join(payload, "vectors"),
                                os.path.join(stage, "vectors"))
            artifacts.link_tree(os.path.join(payload, "centroids"),
                                os.path.join(stage, "centroids"))
            assigned.write.mode("append").partitionBy("cell").parquet(
                os.path.join(stage, "vectors")
            )
            merged_dead.write.parquet(os.path.join(stage, "dead"))
            artifacts.write_sync_meta(stage, new_meta)

        artifacts.publish(base, artifacts.mutated_key(old_key), _build,
                          expected_seq=seq)
        return {"action": "append", "version": cur_v, "live_docs": live,
                "stale_docs": stale, "appended_docs": appended}

    return artifacts.sync(
        base, table, {"table_uuid": uid}, rebuild=_rebuild, advance=_advance,
        noop=lambda m: {"live_docs": m["live_docs"],
                        "stale_docs": m["stale_docs"], "appended_docs": 0},
        retry=lambda: ivf_index_sync(**call),
        changes=changes, span=(from_version, to_version),
    )


def ivf_index_search(spark, path: str, query_df, *, k: int = 3, nprobe: int = 1):
    """Search the MATERIALIZED index: rank the persisted centroids per query
    (broadcast — K rows), then read ONLY the probed cells' partitions
    (partition pruning on ``cell``; compute scales with nprobe, never the
    corpus) and rank candidates by exact cosine. Identical results to the
    in-memory ``ivf_search`` at any nprobe — pytest-asserted.

    The payload is resolved ONCE through the artifact store's CURRENT
    pointer, so centroids and vectors come from the same immutable version
    even if a sync flips the index mid-search. ``path`` may also be a
    version payload itself (a pinned reader's)."""
    import os

    path = _ivf_payload(path)
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    q = query_df.select("vec_id", "v", "n2")
    probes = _nearest_cents(q, cents, nprobe).select(
        F.col("vec_id").alias("query_id"), F.col("cent_id").alias("cell")
    )
    # probed-cell list: K-bounded metadata (never corpus-scale) — drives
    # partition pruning on the vectors layout
    cells = sorted(r["cell"] for r in probes.select("cell").distinct().collect())
    vecs = spark.read.parquet(os.path.join(path, "vectors")).filter(
        F.col("cell").isin(cells)
    )
    dead_dir = os.path.join(path, "dead")
    if os.path.isdir(dead_dir):
        # CDC-synced index (see ivf_index_sync): drop rows superseded by a
        # later update/delete — the list is tiny by the rebuild threshold,
        # so it broadcasts; rows newer than their tombstone (re-inserts)
        # survive the generation comparison
        dead = spark.read.parquet(dead_dir)
        vecs = (
            vecs.join(F.broadcast(dead), "vec_id", "left")
            .filter(
                F.col("dead_gen").isNull()
                | (F.coalesce(F.col("gen"), F.lit(0)) >= F.col("dead_gen"))
            )
            .drop("dead_gen")
        )
    qa = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    ).join(probes, "query_id")
    cand = (
        qa.join(vecs, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    cos = _dot(F.col("qv"), F.col("v")).cast("double") / F.sqrt(
        F.col("qn2") * F.col("n2")
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cell", cos.alias("cosine")
    ).distinct()  # a neighbor reachable via several probed cells counts once
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    ).drop("rn")


@_qx("x_ann_ivf_indexed", _IVF_ORACLE)
def x_ann_ivf_indexed(spark, sf_dir):
    """ANN over the PERSISTED cell-partitioned IVF index: build once (cached
    on the embeddings parquet's identity), then search by reading the
    centroid table + the probed cells' files only — the at-scale serving
    shape (e_ann_ivf recomputes the index per query; this one never does).
    Same oracle as e_ann_ivf: the materialization must not change a single
    neighbor."""
    path = ivf_index_build(spark, sf_dir)
    q = _scaled(spark, sf_dir).filter("vec_id < 10")
    return ivf_index_search(spark, path, q, k=3, nprobe=1).select(
        "query_id", "neighbor_id", "cell", "cosine"
    )


@_q("e_ann_ivf", _IVF_ORACLE)
def e_ann_ivf(spark, sf_dir):
    """IVF ANN: coarse quantizer (nearest centroid by exact L2 on the
    int-scaled vectors; seed centroids refined by one Lloyd iteration)
    partitions the corpus into cells; a query probes only its own cell
    (nprobe=1) and ranks candidates by exact cosine. At 100TB the cell
    assignment is a write-time partition key — search touches one cell's
    files, never the corpus."""
    iv, assign = ivf_assign(spark, sf_dir, lloyd_iters=1)
    ivc = iv.join(assign.select("vec_id", "cent_id"), "vec_id")
    qa = ivc.filter("vec_id < 10").alias("a")
    ba = ivc.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")).cast("double") / F.sqrt(
        F.col("a.n2") * F.col("b.n2")
    )
    cand = qa.join(
        ba, (F.col("a.cent_id") == F.col("b.cent_id")) & (F.col("b.vec_id") != F.col("a.vec_id"))
    ).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.col("a.cent_id").alias("cell"),
        cos.alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return cand.withColumn("rn", F.row_number().over(w)).filter("rn <= 3").drop("rn")

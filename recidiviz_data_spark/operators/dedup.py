"""Deduplication operators for a training-data pipeline over ``documents``:
exact (content hash), n-gram Jaccard, MinHash+LSH banding, SimHash.

All scale-path constructions: shingle -> explode -> equi-join on shingle /
band bucket (never an O(n²) cross join except the explicitly-bounded SimHash
pair scan), expressed in native Catalyst ops and mirrored exactly in the
DuckDB oracles via the portable md5-int60 hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from recidiviz_data_spark.operators.base import _q, _qx
from recidiviz_data_spark.operators.relational import load
from recidiviz_data_spark.operators.textops import PHASH_SQL, phash
from recidiviz_data_spark.session import materialize

N_HASHES = 8
N_BANDS = 4  # rows per band = 2

# hot-shingle document-frequency cap: a shingle present in more than
# DF_CAP_NUM/DF_CAP_DEN of the corpus ("in the", boilerplate headers) makes
# the shingle equi-join quadratic WITHIN that shingle's group at corpus scale
# while carrying no similarity signal — drop it before any pair work. The
# hot list is provably tiny (at most avg_shingles_per_doc * DEN/NUM entries,
# since each hot shingle accounts for > n_docs*NUM/DEN of the (doc, shingle)
# pairs), so it broadcast-anti-joins without a shuffle. 1/10 suits the demo
# corpus; a 100TB run would tighten toward 1/1000.
DF_CAP_NUM = 1
DF_CAP_DEN = 10

# candidate-pair budget guard for the banded joins: the DF cap bounds shingle
# groups, but a pathological corpus of identical SIGNATURES (e.g. 10^5 exact
# copies of one page that slipped past exact dedup, or an adversarial flood)
# still makes one band bucket quadratic. Buckets larger than the cap are
# dropped before pair expansion — they carry no ranking signal (everything in
# them is "similar") and their members are cheaper to collapse via exact
# dedup. Caps sit above the natural head bucket at demo scale (minhash max 9
# at sf0.1; simhash max 785 — 8-bit bands have only 256 values) so results
# are unchanged on real corpora; a 100 TB run would tune per corpus.
MINHASH_BAND_CAP = 200
SIMHASH_BAND_CAP = 1000


def _shingles_raw(spark, sf_dir, docs=None):
    """Per-row-distinct 3-word shingles per doc, NOT yet globally distinct
    (native HOFs: split/transform/slice).

    The docs are repartitioned to cluster parallelism first: HOF lambdas are
    expression-INTERPRETED per element (no codegen), so a small parquet that
    fits one input split would otherwise run the whole shingling pass on a
    single task. On a many-file lake input this repartition is a cheap no-op
    rebalance; on a one-file demo input it is an ~8x wall-clock win.
    ``docs`` overrides the table read (test injection)."""
    d = (docs if docs is not None else load(spark, sf_dir, "documents")).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )  # hash, not round-robin: no sortBeforeRepartition pass, deterministic
    d = d.withColumn("_w", F.split(F.trim("text"), r"\s+"))
    # shingle construction via zip_with over three SHIFTED slices of the
    # word array — two linear passes — instead of transform(sequence, i ->
    # concat_ws(slice(words, i, 3))), whose per-position slice() allocates a
    # 3-element array per shingle inside the interpreted lambda (HOFs get no
    # codegen). Same output, measured 1.9 -> 0.6 s at sf1.0 for the raw
    # shingle stream. n < 3 guard: the WHEN branch short-circuits, so the
    # negative-length slices are never evaluated for short docs.
    n = F.size("_w")
    a = F.slice("_w", 1, n - 2)
    b = F.slice("_w", 2, n - 2)
    c = F.slice("_w", 3, n - 2)
    pair = F.zip_with(a, b, lambda x, y: F.concat_ws(" ", x, y))
    sh3 = F.zip_with(pair, c, lambda x, y: F.concat_ws(" ", x, y))
    sh = F.when(n >= 3, sh3).otherwise(F.array().cast("array<string>"))
    # array_distinct dedups within a row; the cross-row distinct is the
    # caller's job (string or hashed form)
    return d.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))


def _shingles(spark, sf_dir, docs=None):
    """Distinct (doc_id, shingle) pairs. The global distinct() stays because
    the oracle's SELECT DISTINCT also dedups ACROSS rows sharing a doc_id
    (a re-ingested/duplicated doc must not inflate shingle counts);
    array_distinct inside _shingles_raw keeps the shuffle small."""
    return _shingles_raw(spark, sf_dir, docs=docs).distinct()


def _shingles_hashed(spark, sf_dir, docs=None):
    """Distinct (doc_id, h) where h = phash(shingle): the shingle string is
    hashed IMMEDIATELY after the explode, BEFORE the cross-row distinct —
    the dedup/hot-list shuffles then move 16-byte long pairs instead of
    ~30-byte strings, and every downstream comparison (distinct, hot-list
    groupBy, anti-join, jaccard pair join) is a long compare (guide §2.3
    'shuffle keys and metadata instead of payloads'). phash is the SAME
    md5-int60 the minhash lanes and the DuckDB oracles already apply to the
    shingle string, so hashing earlier changes nothing downstream (a 60-bit
    collision would need ~2^30 distinct shingles per corpus; the oracle
    comparison at every SF verifies the outputs bit-exactly).

    The stream is hash-partitioned by doc_id BEFORE the distinct:
    HashPartitioning(doc_id) satisfies the ClusteredDistribution of BOTH
    the (doc_id, h) distinct and the later per-doc signature groupBy, so
    the distinct runs in place and the 8-lane min aggregate needs NO second
    exchange (one shuffle for the whole signature pipeline — guide §2.4
    'two operations keyed the same way share one exchange')."""
    sh = _shingles_raw(spark, sf_dir, docs=docs)
    return (
        sh.select("doc_id", phash(F.col("shingle")).alias("h"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .distinct()
    )


def _shingles_capped_hashed(spark, sf_dir, docs=None):
    """_shingles_hashed minus hot shingle hashes (doc frequency >
    DF_CAP_NUM/DF_CAP_DEN of the corpus). The hot list is computed with one
    groupBy and removed with a broadcast LEFT ANTI join — the corpus-side
    rows never shuffle for the cap, and the pair-join downstream can no
    longer go quadratic on a Zipf head shingle.

    The shingle set is materialized ONCE: the hot-list aggregation and the
    anti-join both consume it, and the plain DAG would re-run the whole
    split/explode/distinct pipeline per consumer. A production corpus would
    maintain the hot list as a sampled side artifact instead of a full
    aggregation (the persisted band index freezes its own, see
    ``band_index_build``)."""
    shh = materialize(_shingles_hashed(spark, sf_dir, docs=docs))
    n_docs = (docs if docs is not None else load(spark, sf_dir, "documents")).select(
        F.countDistinct("doc_id").alias("nd")
    )
    hot = (
        shh.groupBy("h")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * DF_CAP_DEN > F.col("nd") * DF_CAP_NUM)
        .select("h")
    )
    return shh.join(F.broadcast(hot), "h", "left_anti")


def _hot_shingles(sh, n_docs):
    """Shingles whose document frequency exceeds DF_CAP_NUM/DF_CAP_DEN of the
    corpus — THE hot list (one groupBy; provably tiny, see DF_CAP_* above)
    over shingle strings. The persisted band index FREEZES this list as a
    side artifact so incremental appends reuse it; the in-session pipeline
    caps its hashed shingles the same way (``_shingles_capped_hashed``)."""
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        # integer arithmetic (df/nd are exact longs) — portable to the oracle
        .filter(F.col("df") * DF_CAP_DEN > F.col("nd") * DF_CAP_NUM)
        .select("shingle")
    )


_SHINGLES_SQL = """
  words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w FROM documents),
  sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
         FROM words, UNNEST(generate_series(1, greatest(len(w)-2, 0))) t(i))
"""

# sh minus hot shingles — the oracle mirror of _shingles_capped_hashed
_SHINGLES_CAPPED_SQL = (
    _SHINGLES_SQL
    + f""",
  ndocs AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
  dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
  shc AS (SELECT sh.doc_id, sh.shingle
          FROM sh JOIN dfreq USING (shingle) CROSS JOIN ndocs
          WHERE df * {DF_CAP_DEN} <= nd * {DF_CAP_NUM})
"""
)


@_q(
    "d_exact_dedup",
    f"""
    SELECT {PHASH_SQL.format(x="lower(trim(text))")} AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper
    FROM documents GROUP BY 1
    """,
)
def d_exact_dedup(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized content, keep min doc_id."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy(phash(F.lower(F.trim("text"))).alias("content_hash")).agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper")
    )


# thresholded Jaccard pairs over the capped shingle sets — shared by the
# d_ngram_jaccard oracle and the clustering oracle's edge set
_JACCARD_SQL = """
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
              FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    jac AS (SELECT d1, d2, shared,
                   CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
            FROM pairs JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
            WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.3)
"""


@_q(
    "d_ngram_jaccard",
    f"""
    WITH {_SHINGLES_CAPPED_SQL},
    {_JACCARD_SQL}
    SELECT d1, d2, shared, jaccard FROM jac
    """,
)
def d_ngram_jaccard(spark, sf_dir, docs=None):
    """Exact n-gram Jaccard near-dup pairs: shingle equi-join (the scalable
    shape — candidate pairs only where a shingle is shared, never n²).
    Hot shingles (df above the corpus cap) are removed first — they are the
    one remaining quadratic trapdoor in a shingle equi-join at 100TB, and
    jaccard is computed over the CAPPED shingle sets in both engines."""
    sh = _shingles_capped_hashed(spark, sf_dir, docs=docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("shared"))
    )
    j = (
        pairs.join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "na"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "nb"), "d2")
        .withColumn("jaccard", F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared")))
        .filter(F.col("jaccard") >= 0.3)
    )
    return j.select("d1", "d2", "shared", "jaccard")


# one md5 per shingle; the 8 lanes are affine re-mixes of it mod a Mersenne
# prime (universal-hash family) — md5 dominates MinHash cost, so this is ~8x
# cheaper than hashing (shingle, lane) pairs, identically in both engines
LSH_P = 2147483647
LSH_A = (1000003, 1000033, 1000037, 1000039, 1000081, 1000099, 1000117, 1000121)

_LANES_VALUES = ", ".join(f"({j}, {a})" for j, a in enumerate(LSH_A))

_MINHASH_SQL = f"""
  hs AS (SELECT doc_id, {PHASH_SQL.format(x="shingle")} % {LSH_P} AS h FROM shc),
  hashes AS (SELECT doc_id, j, MIN((h * a + j) % {LSH_P}) AS mh
             FROM hs, (VALUES {_LANES_VALUES}) lanes(j, a)
             GROUP BY doc_id, j),
  bands0 AS (SELECT doc_id, j // 2 AS band,
                    MIN(CASE WHEN j % 2 = 0 THEN mh END) AS h_lo,
                    MIN(CASE WHEN j % 2 = 1 THEN mh END) AS h_hi
             FROM hashes GROUP BY doc_id, j // 2),
  hotband AS (SELECT band, h_lo, h_hi FROM bands0
              GROUP BY 1, 2, 3 HAVING COUNT(*) > {MINHASH_BAND_CAP}),
  bands AS (SELECT * FROM bands0 b WHERE NOT EXISTS
            (SELECT 1 FROM hotband h
             WHERE h.band = b.band AND h.h_lo = b.h_lo AND h.h_hi = b.h_hi))
"""


@_q(
    "d_minhash_lsh",
    f"""
    WITH {_SHINGLES_CAPPED_SQL},
    {_MINHASH_SQL}
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_bands_shared
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.h_lo = b.h_lo AND a.h_hi = b.h_hi
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def d_minhash_lsh(spark, sf_dir, docs=None, band_cap=MINHASH_BAND_CAP):
    """MinHash+LSH: shingle -> k=8 minhash signature -> 4 bands of 2 ->
    bucket-join on band value. Candidate pairs = docs agreeing on >=1 band.
    The band bucket-join is the 100TB-scale path (no pairwise work).

    All 8 hash lanes are computed as columns on each (doc, shingle) row —
    ONE md5 per shingle, affinely re-mixed per lane mod a Mersenne prime —
    and min-aggregated in ONE groupBy(doc_id): no 8x row explode before the
    shuffle and no 8x md5 (together those made this the slowest contract
    query in round 1); the only explode left is 4 band rows per DOC.
    Signatures are built over the DF-capped shingle set: a corpus-wide
    boilerplate shingle would otherwise pin the same minhash on huge doc
    groups and recreate the quadratic band bucket."""
    bands = _minhash_bands(spark, sf_dir, docs=docs, band_cap=band_cap)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h_lo") == F.col("b.h_lo"))
            & (F.col("a.h_hi") == F.col("b.h_hi"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("n_bands_shared"))
    )


def _band_rows(sh):
    """UNCAPPED (doc_id, band, h_lo, h_hi) LSH band rows from a (DF-capped)
    shingle set: one md5 per shingle, 8 affine lanes min-aggregated in ONE
    groupBy, exploded to 4 band rows per doc. The raw signature pipeline
    shared by the in-session index (`_minhash_bands`, which adds the
    bucket-size cap) and the persisted band index (`band_index_build` /
    `band_index_append`, which store sizes separately so the cap composes
    across appends). Accepts either raw shingle strings or rows already
    carrying ``h`` = phash(shingle) (the hashed in-session pipeline)."""
    h0 = F.col("h") if "h" in sh.columns else phash(F.col("shingle"))
    sh = sh.withColumn("h", F.pmod(h0, F.lit(LSH_P)))
    mins = sh.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(j)) % F.lit(LSH_P)).alias(f"mh{j}")
            for j, a in enumerate(LSH_A)
        ]
    )
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"mh{2 * b}").alias("h_lo"),
                        F.col(f"mh{2 * b + 1}").alias("h_hi"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.h_lo", "bs.h_hi")
    return bands


def _minhash_bands(spark, sf_dir, docs=None, band_cap=MINHASH_BAND_CAP):
    """(doc_id, band, h_lo, h_hi) LSH band rows over the DF-capped shingle
    set, oversize band buckets dropped — the minhash INDEX a corpus would
    materialize once and probe incrementally (``band_index_build`` is its
    persisted, append-able form)."""
    bands = _band_rows(_shingles_capped_hashed(spark, sf_dir, docs=docs))
    # candidate budget: drop band buckets larger than the cap BEFORE the pair
    # join (see MINHASH_BAND_CAP). A whole-partition window count computes
    # bucket sizes in the SAME single pass (no second evaluation of the
    # signature pipeline, unlike a groupBy+anti-join), and its shuffle
    # CO-LOCATES the band key — the self-join below reuses that exchange.
    from pyspark.sql.window import Window as _W

    return materialize(
        bands.withColumn(
            "_c", F.count("*").over(_W.partitionBy("band", "h_lo", "h_hi"))
        )
        .filter(F.col("_c") <= band_cap)
        .drop("_c")
        # materialized once (4 rows/doc): every consumer either self-joins
        # this index (d_minhash_lsh) or probes it twice (incremental path),
        # and the plain DAG re-runs the signature pipeline per side —
        # exactly the "materialized index" this function's docstring
        # promises (measured 2.7 -> 1.8 s at sf0.1)
    )


@_qx(
    "x_incremental_neardup",
    f"""
    WITH {_SHINGLES_CAPPED_SQL},
    {_MINHASH_SQL}
    SELECT b.doc_id AS new_doc, a.doc_id AS corpus_doc, COUNT(*) AS n_bands_shared
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.h_lo = b.h_lo AND a.h_hi = b.h_hi
     AND a.doc_id < 250 AND b.doc_id >= 250
    GROUP BY 1, 2
    """,
)
def x_incremental_neardup(spark, sf_dir):
    """Incremental NEAR-dup detection — the shape a streaming ingest runs
    after exact dedup: the ingested corpus' minhash band rows are a
    materialized INDEX (built once, by `_minhash_bands`); each incoming
    batch computes only ITS OWN band rows and equi-joins them against the
    index — at 100 TB the probe side is the small new batch (AQE broadcasts
    it), the index is partitioned by band key, and no corpus self-join ever
    runs again. Demo split: docs 0-249 = corpus index, 250+ = incoming."""
    bands = _minhash_bands(spark, sf_dir)
    idx = bands.filter(F.col("doc_id") < 250).alias("a")
    probe = bands.filter(F.col("doc_id") >= 250).alias("b")
    return (
        idx.join(
            probe,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h_lo") == F.col("b.h_lo"))
            & (F.col("a.h_hi") == F.col("b.h_hi")),
        )
        .groupBy(F.col("b.doc_id").alias("new_doc"), F.col("a.doc_id").alias("corpus_doc"))
        .agg(F.count("*").alias("n_bands_shared"))
    )


# --------------------------------------------------------------------------
# persisted minhash band index (round-5 verdict item 4): the band rows as an
# on-disk incremental artifact — built from parquet by band_index_build, and
# for a CDC table built and appended by band_index_sync alone — published
# through the versioned artifact store, so appends and rebuilds are atomic
# version flips a racing prober can never half-observe.
#
# Layout per version: bands/   UNCAPPED (doc_id, band, h_lo, h_hi) rows,
#                              partitioned by band (at lake scale: bucketed
#                              by the full band key);
#                     sizes/   (band, h_lo, h_hi, n) bucket sizes — the cap
#                              is applied at PROBE time against the merged
#                              sizes, so it stays exact across appends;
#                     hot/     the FROZEN hot-shingle list the index was
#                              built with — appends reuse it (the sampled
#                              side-artifact shape _shingles_capped_hashed's
#                              docstring promises for production).


def band_index_path(sf_dir: str) -> str:
    import os
    import tempfile

    from recidiviz_data_spark.operators.relational import _roundtrip_cache_tag

    tag = _roundtrip_cache_tag(sf_dir, "documents")
    return os.path.join(tempfile.gettempdir(), f"rds_bandidx_{tag}")


def band_index_build(spark, sf_dir, path: str | None = None, *,
                     docs=None, key: str | None = None,
                     meta: dict | None = None) -> str:
    """Build the persisted minhash band index over a corpus snapshot.
    Idempotent per source identity (or per explicit snapshot ``key``);
    returns the artifact base dir. One signature pass over the corpus: the
    written bands parquet is read back for the sizes aggregate, so the
    md5/lane pipeline runs exactly once. ``meta`` (if given) lands as
    ``sync.json`` in the payload — the CDC-sync bookkeeping record
    (see ``band_index_sync``)."""
    import os

    from recidiviz_data_spark.operators.relational import _roundtrip_cache_tag
    from recidiviz_data_spark.tables import artifacts

    base = path or band_index_path(sf_dir)
    key = key or f"parquet:{_roundtrip_cache_tag(sf_dir, 'documents')}"

    def _build(stage: str) -> None:
        os.makedirs(stage)
        sh = _shingles(spark, sf_dir, docs=docs).localCheckpoint()
        n_docs = (docs if docs is not None else load(spark, sf_dir, "documents")).select(
            F.countDistinct("doc_id").alias("nd")
        )
        hot = _hot_shingles(sh, n_docs).localCheckpoint()  # tiny; written + joined
        hot.write.parquet(os.path.join(stage, "hot"))
        capped = sh.join(F.broadcast(hot), "shingle", "left_anti")
        _band_rows(capped).write.partitionBy("band").parquet(
            os.path.join(stage, "bands")
        )
        written = spark.read.parquet(os.path.join(stage, "bands"))
        written.groupBy("band", "h_lo", "h_hi").agg(F.count("*").alias("n")).write.parquet(
            os.path.join(stage, "sizes")
        )
        if meta is not None:
            artifacts.write_sync_meta(stage, meta)

    artifacts.ensure(base, key, _build)
    return base


def band_index_append(spark, path: str, new_docs, *, expected_seq: int,
                      meta: dict | None = None) -> int:
    """The band-index sync's append step: compute band rows for the NEW
    batch only (its shingles filtered by the index's FROZEN hot list — no
    corpus re-scan), then publish a new index version: unchanged band files
    carried as hardlinks, appended rows added, sizes merged. Atomic flip — a
    racing prober sees the whole old or whole new index. The publish is a
    CAS on ``expected_seq``, the seq of the version the caller planned from
    (``resolve_full``): if the index is missing or has moved since, nothing
    lands and ``ArtifactConflict`` raises, so ``artifacts.sync`` re-enters
    the whole sync (a blind retry would re-append rows the conflicting sync
    already landed). Returns appended rows. ``meta`` replaces the payload's
    ``sync.json`` (never hardlink-carried — each version's sync record is
    its own)."""
    import os

    from recidiviz_data_spark.tables import artifacts

    r = artifacts.resolve_full(path)
    seq = None if r is None else r[2]
    if seq != expected_seq:
        raise artifacts.ArtifactConflict(
            f"artifact under {path} moved: seq {seq} != expected {expected_seq}"
        )
    payload, old_key, _ = r
    hot = spark.read.parquet(os.path.join(payload, "hot"))
    sh_new = _shingles(spark, None, docs=new_docs).join(
        F.broadcast(hot), "shingle", "left_anti"
    )
    new_bands = _band_rows(sh_new).localCheckpoint()  # written + size-merged
    n = new_bands.count()
    old_sizes = spark.read.parquet(os.path.join(payload, "sizes"))
    merged = (
        old_sizes.withColumnRenamed("n", "n_old")
        .join(
            new_bands.groupBy("band", "h_lo", "h_hi").agg(F.count("*").alias("n_new")),
            ["band", "h_lo", "h_hi"],
            "full_outer",
        )
        .select(
            "band", "h_lo", "h_hi",
            (F.coalesce("n_old", F.lit(0)) + F.coalesce("n_new", F.lit(0))).alias("n"),
        )
        .localCheckpoint()  # sizes must be computed BEFORE staging links them
    )

    def _build(stage: str) -> None:
        os.makedirs(stage)
        artifacts.link_tree(os.path.join(payload, "bands"), os.path.join(stage, "bands"))
        artifacts.link_tree(os.path.join(payload, "hot"), os.path.join(stage, "hot"))
        new_bands.write.mode("append").partitionBy("band").parquet(
            os.path.join(stage, "bands")
        )
        merged.write.parquet(os.path.join(stage, "sizes"))
        if meta is not None:
            artifacts.write_sync_meta(stage, meta)

    artifacts.publish(path, artifacts.mutated_key(old_key), _build,
                      expected_seq=expected_seq)
    return n


def band_index_bands(spark, path: str, *, band_cap=MINHASH_BAND_CAP, live=None):
    """The index's CAP-FILTERED band rows — buckets whose MERGED size exceeds
    ``band_cap`` are dropped exactly as the in-session window cap drops them
    (the flood guard stays exact across appends because sizes are totals,
    not per-build counts). Both reads resolve the same immutable version.

    ``live`` (a DataFrame of doc_id) semi-joins the rows down to documents
    still alive in the source — the probe-side filter for a CDC-synced index,
    whose appends cannot remove rows for deleted docs (see
    ``band_index_sync``)."""
    import os

    from recidiviz_data_spark.tables import artifacts

    r = artifacts.resolve(path)
    payload = r[0] if r is not None else path
    bands = spark.read.parquet(os.path.join(payload, "bands"))
    ok = (
        spark.read.parquet(os.path.join(payload, "sizes"))
        .filter(F.col("n") <= band_cap)
        .select("band", "h_lo", "h_hi")
    )
    out = bands.join(ok, ["band", "h_lo", "h_hi"])
    if live is not None:
        out = out.join(live.select("doc_id"), "doc_id", "left_semi")
    return out


def table_band_index_path(table) -> str:
    """Default artifact location for a band index synced to a miniberg table
    — keyed on the table's uuid, so every table gets its own index dir."""
    from recidiviz_data_spark.tables import artifacts

    return artifacts.default_path(table, "bandidx_tbl")


def _band_sync_meta(path: str) -> dict | None:
    """The current index version's sync record, or None if the artifact is
    missing or was not built through the sync lifecycle."""
    from recidiviz_data_spark.tables import artifacts

    return artifacts.sync_meta(path)


def band_index_sync(spark, table, path: str | None = None, *,
                    rebuild_stale_fraction: float = 0.25,
                    changes=None, from_version: int | None = None,
                    to_version: int | None = None) -> dict:
    """Keep the persisted band index in step with a miniberg CDC table: the
    search-index-ingest loop, driven by the table's own change feed.

    Each call advances the index from the snapshot it last represented
    (recorded in the payload's ``sync.json``) to the table's current version
    through the artifact store's one sync lifecycle (``artifacts.sync``):

    - first call / foreign index / rolled-back source -> FULL build over the
      current snapshot, keyed ``miniberg:<uuid>:v<N>`` (pure-build cache key);
    - new snapshot -> text-level diff of the two versions (only ``doc_id`` +
      ``text`` are read — cheaper than a full-payload CDF, and a U event
      whose text did not change is NOT re-indexed); inserts and text-updates
      append band rows against the frozen hot list, deletes and updates mark
      their old rows STALE in the bookkeeping (an append-only index cannot
      remove them — probes filter deleted docs via ``band_index_bands(live=)``
      and verification against live text rejects updated-old candidates);
    - once stale docs exceed ``rebuild_stale_fraction`` of live docs the sync
      compacts: a full rebuild over the current snapshot (the Lucene
      segment-merge analog), resetting the stale count;
    - same snapshot -> no-op.

    At lake scale the version diff is the sync's dominant cost; a deployment
    already holding the CDC events between two snapshots passes them as
    ``changes`` (columns op/doc_id/text) WITH the snapshots they span,
    ``from_version`` and ``to_version``, and skips the diff entirely. The
    events are applied only if that span is exactly (the version in the
    index's own ``sync.json``, the table's current version); otherwise the
    sync diffs for itself. An index synced independently to an intermediate
    version would re-append rows it already landed from a wider diff
    (inflating merged bucket sizes past the band cap), and a diff that ends
    before a newer commit would stamp a stale index current. Every
    publication is an atomic artifact-store flip, and an append is a CAS: a
    racing sync that loses it re-enters and finds the index current.

    Returns {action, version, live_docs, stale_docs, appended_docs,
    appended_rows}."""
    call = dict(locals())  # every bound argument, for the conflict re-entry
    from recidiviz_data_spark.tables import artifacts

    base = path or table_band_index_path(table)
    uid = artifacts.table_uid(table)

    def _rebuild(cur_v: int) -> dict:
        docs = table.read(spark).select("doc_id", "text")
        live = docs.count()
        band_index_build(
            spark, None, base, docs=docs,
            key=f"miniberg:{uid}:v{cur_v}",
            meta={"table_uuid": uid, "version": cur_v,
                  "live_docs": live, "stale_docs": 0},
        )
        return {"action": "rebuild", "version": cur_v, "live_docs": live,
                "stale_docs": 0, "appended_docs": 0, "appended_rows": 0}

    def _advance(r0, meta, cur_v: int, changes) -> dict:
        changes, appended, live, stale = index_delta(
            spark, table, meta, cur_v, changes, "text")
        if stale > rebuild_stale_fraction * max(live, 1):
            return _rebuild(cur_v)
        rows = band_index_append(
            spark, base,
            changes.filter(F.col("op").isin("I", "U")).select("doc_id", "text"),
            meta={"table_uuid": uid, "version": cur_v,
                  "live_docs": live, "stale_docs": stale},
            expected_seq=r0[2],
        )
        return {"action": "append", "version": cur_v, "live_docs": live,
                "stale_docs": stale, "appended_docs": appended,
                "appended_rows": rows}

    return artifacts.sync(
        base, table, {"table_uuid": uid}, rebuild=_rebuild, advance=_advance,
        noop=lambda m: {"live_docs": m["live_docs"],
                        "stale_docs": m["stale_docs"],
                        "appended_docs": 0, "appended_rows": 0},
        retry=lambda: band_index_sync(**call),
        changes=changes, span=(from_version, to_version),
    )


def index_delta(spark, table, meta: dict, cur_v: int, changes, col: str):
    """(changes, appended_docs, live_docs, stale_docs) for an index sync
    advancing from its stored version to ``cur_v``: the caller's diff
    (op/doc_id/``col``), or when None a bucket- and column-pruned one of our
    own (only buckets whose file sets moved are read, only ``col`` is
    carried). It is materialized because the counts and the append both
    consume it; its op counts fold into the sync record's live/stale
    counts."""
    from recidiviz_data_spark.cdc.differ import table_changes_pruned

    if changes is None:
        changes = table_changes_pruned(
            spark, table, meta["version"], cur_v, cols=[col]
        )
    changes = materialize(changes)
    ops = {
        r["op"]: r["n"]
        for r in changes.groupBy("op").agg(F.count("*").alias("n")).collect()
    }
    n_i, n_u, n_d = ops.get("I", 0), ops.get("U", 0), ops.get("D", 0)
    return (changes, n_i + n_u, meta["live_docs"] + n_i - n_d,
            meta["stale_docs"] + n_u + n_d)


@_qx(
    "x_incremental_neardup_indexed",
    f"""
    WITH {_SHINGLES_CAPPED_SQL},
    {_MINHASH_SQL}
    SELECT b.doc_id AS new_doc, a.doc_id AS corpus_doc, COUNT(*) AS n_bands_shared
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.h_lo = b.h_lo AND a.h_hi = b.h_hi
     AND a.doc_id < 250 AND b.doc_id >= 250
    GROUP BY 1, 2
    """,
)
def x_incremental_neardup_indexed(spark, sf_dir):
    """x_incremental_neardup served from the PERSISTED band index: built once
    per corpus snapshot (versioned artifact, atomic flips), then the probe
    reads band rows + merged bucket sizes from disk — the corpus signature
    pipeline never re-runs per probe. Same oracle as the in-session form:
    the materialization must not change a single candidate pair."""
    bands = band_index_bands(spark, band_index_build(spark, sf_dir))
    idx = bands.filter(F.col("doc_id") < 250).alias("a")
    probe = bands.filter(F.col("doc_id") >= 250).alias("b")
    return (
        idx.join(
            probe,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h_lo") == F.col("b.h_lo"))
            & (F.col("a.h_hi") == F.col("b.h_hi")),
        )
        .groupBy(F.col("b.doc_id").alias("new_doc"), F.col("a.doc_id").alias("corpus_doc"))
        .agg(F.count("*").alias("n_bands_shared"))
    )


_SIMHASH_SQL = f"""
  tokens AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
             FROM documents),
  bits AS (SELECT doc_id, i,
                  SUM(CASE WHEN ({PHASH_SQL.format(x="word")} >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM tokens, UNNEST(generate_series(0, 31)) t(i)
           GROUP BY doc_id, i),
  sig AS (SELECT doc_id,
                 CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id)
"""


@_q(
    "d_simhash",
    f"""
    WITH {_SIMHASH_SQL}
    SELECT doc_id, simhash FROM sig
    """,
)
def d_simhash(spark, sf_dir):
    """32-bit SimHash signature per doc (word-hash bit voting)."""
    return _simhash_sig(spark, sf_dir)


def _simhash_sig(spark, sf_dir):
    """32-bit SimHash per doc. The bit voting runs as 32 conditional-sum
    COLUMNS in ONE groupBy(doc_id) — not as a x32 bit-row explode feeding a
    (doc_id, i) aggregate: the explode multiplied every token row 32-fold
    before the shuffle and needed a second shuffle to fold bits back into a
    signature. The column form shuffles one 32-column partial row per (doc,
    map partition) and needs no second exchange; per-token work is the same
    32 shift/mask ops, now whole-stage-codegen'd instead of generator rows
    (guide §2.3 'aggregate before you shuffle'; measured 3.2 -> ~1.3 s at
    sf1.0). The vote s_i and the final bit assembly are exact integer ops —
    identical to the bit-row form and the DuckDB oracle."""
    # parallelize the word-explode past the single input split; hash on
    # doc_id (deterministic, no sortBeforeRepartition pass, even spread)
    d = load(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tokens = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
    ).withColumn("h", phash(F.col("word")))
    votes = tokens.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {i}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(32)
        ]
    )
    simhash = None
    for i in range(32):
        bit = F.when(F.col(f"s{i}") >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = bit if simhash is None else simhash + bit
    return votes.select("doc_id", simhash.alias("simhash"))


@_q(
    "d_simhash_banded",
    f"""
    WITH {_SIMHASH_SQL},
    bandrows0 AS (SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS bits
                  FROM sig, UNNEST(generate_series(0, 3)) t(band)),
    hotband AS (SELECT band, bits FROM bandrows0
                GROUP BY 1, 2 HAVING COUNT(*) > {SIMHASH_BAND_CAP}),
    bandrows AS (SELECT * FROM bandrows0 b WHERE NOT EXISTS
                 (SELECT 1 FROM hotband h WHERE h.band = b.band AND h.bits = b.bits)),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                    a.simhash AS s1, b.simhash AS s2
             FROM bandrows a JOIN bandrows b
               ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
    SELECT d1, d2, bit_count(xor(s1, s2)) AS hamming
    FROM cand WHERE bit_count(xor(s1, s2)) <= 2
    """,
)
def d_simhash_banded(spark, sf_dir, band_cap=SIMHASH_BAND_CAP):
    """Banded SimHash near-dup — the 100TB scale path: split the 32-bit
    signature into 4 bands of 8 bits, equi-join on (band, band_bits), and
    compute exact hamming only within shared-band candidates. Pigeonhole:
    hamming <= 2 flips at most 2 bands, so every qualifying pair agrees on
    >= 2 of 4 bands and is guaranteed to surface — identical output to the
    all-pairs scan ``d_simhash_neardup`` (kept as the pytest oracle), with
    the O(n²) cross join replaced by a bucket equi-join. Band buckets above
    ``band_cap`` are dropped first (candidate budget — see SIMHASH_BAND_CAP);
    the cap sits above any natural bucket at demo scale, so the pigeonhole
    equality holds there."""
    sig = _simhash_sig(spark, sf_dir)
    bandrows = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"shiftright(simhash, {8 * b}) & 255").alias("bits"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "simhash", "bs.band", "bs.bits")
    # same candidate budget as the minhash path (SIMHASH_BAND_CAP): a flood
    # of identical signatures must not turn one band bucket quadratic. A
    # dropped pair is only LOST if every one of its >= 2 agreeing bands is
    # hot — the pigeonhole guarantee degrades gracefully under the cap.
    # Single-pass window count (same co-located exchange the join reuses).
    from pyspark.sql.window import Window as _W

    bandrows = materialize(
        bandrows.withColumn("_c", F.count("*").over(_W.partitionBy("band", "bits")))
        .filter(F.col("_c") <= band_cap)
        .drop("_c")
        # materialized once: the a/b self-join below would otherwise re-run
        # the whole token-explode x32 signature pipeline per side
        # (measured 1.7 -> 1.4 s at sf0.1); 4 rows/doc, tiny to store
    )
    a, b = bandrows.alias("a"), bandrows.alias("b")
    # the hamming filter runs INSIDE the join, before the pair distinct:
    # bucket-sharing pairs with hamming > 2 (8 agreeing bits say nothing
    # about the other 24) never enter the dedup exchange — same result
    # (filter-then-distinct == distinct-then-filter for a deterministic
    # per-row predicate), fewer rows shuffled (guide §2.3)
    jham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (jham <= 2),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return cand.select("d1", "d2", hamming.alias("hamming"))


@_qx(
    "d_simhash_neardup",
    f"""
    WITH {_SIMHASH_SQL}
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
)
def d_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 2), all-pairs scan: the test-scale
    verification oracle for ``d_simhash_banded`` (the banded bucket-join is
    the scale path; this O(n²) form exists only to prove it exact)."""
    sig = _simhash_sig(spark, sf_dir)
    a, b = sig.alias("a"), sig.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
    )


def connected_components(spark, edges, src: str = "d1", dst: str = "d2",
                         max_iter: int = 30):
    """Connected components over an undirected pair graph -> (node, cluster_id)
    where cluster_id = MIN node id of the component.

    Algorithm: iterated min-label propagation fused with pointer jumping —
    each round every node takes the minimum label over {self} ∪ neighbors,
    then labels chase their own label's label (path halving). Convergence is
    O(log n) DataFrame iterations (the pointer jump is what turns an
    O(diameter) chain walk into a doubling), each iteration two shuffle
    joins over the label table (one row per node that appears in a pair —
    at 100 TB that is the NEAR-DUP node set, orders of magnitude smaller
    than the corpus). No per-row Python; the driver loop only compares one
    aggregated count per round (labels are monotonically non-increasing
    under the node domain's total order, so zero changed labels IS
    convergence — counted directly via an equi-join on node, which works
    for ANY orderable id type including strings, unlike a numeric label
    sum), and ``localCheckpoint`` truncates the iterative plan lineage.
    This is the pair->cluster resolution every production dedup pipeline
    needs (the reference's entity-matching plays this role for entities —
    SURVEY.md §2.3 J1/J2 [U] persistence/entity_matching.py)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint()
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            sym.join(
                labels.select(F.col("node").alias("b"), F.col("lbl").alias("nlbl")), "b"
            )
            .groupBy("a")
            .agg(F.min("nlbl").alias("min_nbr"))
        )
        stepped = labels.join(nbr, labels["node"] == nbr["a"], "left").select(
            "node", F.least("lbl", F.coalesce("min_nbr", "lbl")).alias("lbl")
        )
        jump = stepped.select(F.col("node").alias("jn"), F.col("lbl").alias("jlbl"))
        new_labels = (
            stepped.join(jump, stepped["lbl"] == jump["jn"], "left")
            .select(
                "node", F.least("lbl", F.coalesce("jlbl", "lbl")).alias("lbl")
            )
            .localCheckpoint()
        )
        # convergence = no node's label moved this round (type-agnostic:
        # works for string doc_ids where a numeric label sum would throw
        # under ANSI mode or silently yield NULL without it). One count
        # over the tiny node table per O(log n) round.
        changed = (
            new_labels.join(
                labels.select(F.col("node"), F.col("lbl").alias("_prev")), "node"
            )
            .filter(F.col("lbl") != F.col("_prev"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("node"), F.col("lbl").alias("cluster_id"))
    # pointer jumping converges in O(log n) rounds; with max_iter=30 this
    # fires only on a logic regression — returning unconverged labels would
    # silently under-merge clusters, so fail loudly instead
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


@_qx(
    "x_neardup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLES_CAPPED_SQL},
    {_JACCARD_SQL},
    edges AS (SELECT d1 AS a, d2 AS b FROM jac
              UNION ALL SELECT d2, d1 FROM jac),
    reach(node, lbl) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    allc AS (
      SELECT doc_id, cluster_id FROM comp
      UNION ALL
      SELECT d.doc_id, d.doc_id FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
    )
    SELECT a.doc_id, a.cluster_id, a.doc_id = a.cluster_id AS is_keeper,
           CAST(cs.n AS BIGINT) AS cluster_size
    FROM allc a
    JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n FROM allc GROUP BY 1) cs
      USING (cluster_id)
    """,
)
def x_neardup_clusters(spark, sf_dir, docs=None):
    """Near-dup pair -> cluster -> keeper resolution: the confirmed n-gram
    Jaccard pairs (>= 0.3 over DF-capped shingles) become an undirected
    graph; connected components collapse transitive chains (A~B, B~C => one
    cluster even if A!~C); keeper = min doc_id per cluster. Docs in no pair
    are their own singleton cluster, so the output is a total keep/drop
    decision per doc — ``filter(is_keeper)`` IS the deduped corpus. Oracle:
    DuckDB recursive CTE computing the same transitive closure."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    pairs = d_ngram_jaccard(spark, sf_dir, docs=docs).select("d1", "d2")
    comp = connected_components(spark, pairs)
    singles = d.select("doc_id").join(
        comp.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    ).withColumn("cluster_id", F.col("doc_id"))
    allc = comp.select(F.col("node").alias("doc_id"), "cluster_id").unionByName(singles)
    sizes = allc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        allc.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
            "cluster_size",
        )
    )


def materialize_neardup_clusters(spark, sf_dir, *, key: str | None = None) -> str:
    """Persist the x_neardup_clusters output as a parquet cluster table,
    published through the versioned artifact store (immutable version dir +
    atomic CURRENT flip — a racing reader sees a complete old or new table,
    never an in-place overwrite in flight; ADVICE r5). Cache-keyed on the
    documents parquet's identity by default (regenerated testdata
    invalidates it); pass ``key=artifacts.miniberg_source_key(table)`` to
    key on a CDC source's snapshot version instead. The production shape:
    the Jaccard + connected-components pass runs ONCE per corpus snapshot;
    every consumer — the funnel report, keeper filters, audits — reads the
    persisted table instead of re-running the clustering."""
    import os
    import tempfile

    from recidiviz_data_spark.operators.relational import _roundtrip_cache_tag
    from recidiviz_data_spark.tables import artifacts

    tag = _roundtrip_cache_tag(sf_dir, "documents")
    base = os.path.join(tempfile.gettempdir(), f"rds_clusters_{tag}")
    key = key or f"parquet:{tag}"
    return artifacts.ensure(
        base, key, lambda stage: x_neardup_clusters(spark, sf_dir).write.parquet(stage)
    )


def table_clusters_path(table) -> str:
    """Default artifact location for a cluster table synced to a miniberg
    table — keyed on the table's uuid."""
    from recidiviz_data_spark.tables import artifacts

    return artifacts.default_path(table, "clusters_tbl")


# Largest shrunk cluster whose post-removal connectivity is re-verified
# INLINE by the sync (point-read members, pairwise Jaccard, mini CC). Above
# it the split-check is deferred to the periodic exact rebuild: near-dup
# cluster sizes at web scale are heavy-tailed (boilerplate/template clusters
# reach 10^5-10^7 docs), and one delete touching such a cluster must not
# collect its whole membership to the driver.
SPLIT_VERIFY_CAP = 1024


def _band_version(band_path: str) -> tuple[str, dict | None]:
    """(payload, stamp) of the band index's current version, from ONE
    resolve: the payload a cluster sync probes and the provenance stamp its
    ``sync.json`` records for it — the artifact dir + seq and the TABLE
    SNAPSHOT VERSION that band version represents. Two resolves could
    straddle a concurrent band publish and stamp a version never read.
    Compose-time consistency checks compare snapshot versions
    (``neardup_artifacts_consistent``); dir/seq document exactly which
    physical version fed the candidates."""
    import os

    from recidiviz_data_spark.tables import artifacts

    br = artifacts.resolve_full(band_path)
    if br is None:
        return band_path, None
    bmeta = artifacts.sync_meta_at(br[0])
    return br[0], {
        "dir": os.path.basename(br[0]),
        "seq": br[2],
        "version": None if bmeta is None else bmeta.get("version"),
    }


def neardup_artifacts_consistent(clusters_path: str, band_path: str) -> bool:
    """True iff the persisted cluster table and band index represent the SAME
    source-table snapshot — the cross-artifact consistency predicate. Each
    artifact has its own CURRENT pointer (no multi-artifact transaction), so
    one synced independently of the other can be observed ahead; a composed
    consumer checks this and re-syncs on mismatch (``neardup_composed_read``
    does both)."""
    from recidiviz_data_spark.tables import artifacts

    cm = artifacts.sync_meta(clusters_path)
    bm = artifacts.sync_meta(band_path)
    if cm is None or bm is None:
        return False
    return (
        cm.get("table_uuid") == bm.get("table_uuid")
        and cm.get("version") == bm.get("version")
    )


def neardup_composed_read(spark, table, path: str | None = None, *,
                          band_path: str | None = None,
                          max_resyncs: int = 3, **sync_kw):
    """Read the cluster table TOGETHER with the band index as a consistent
    pair: returns ``(clusters_view_df, band_payload_dir)`` where both
    artifacts represent the same source snapshot. If their sync records
    disagree (one was advanced independently), both are re-synced to the
    table's current version and re-checked — the compose-time half of the
    cross-artifact stamps. Converges in one pass under the one-sync-writer
    contract; a writer racing the table itself can force retries, bounded by
    ``max_resyncs``."""
    base = path or table_clusters_path(table)
    bp = band_path or table_band_index_path(table)
    for _ in range(max_resyncs + 1):
        if neardup_artifacts_consistent(base, bp):
            return neardup_clusters_view(spark, base), _band_version(bp)[0]
        band_index_sync(spark, table, bp, **sync_kw)
        neardup_clusters_sync(spark, table, base, band_path=bp, **sync_kw)
    raise RuntimeError(
        "could not compose a consistent (cluster table, band index) pair "
        f"after {max_resyncs} re-syncs — is a writer racing the table?"
    )


def neardup_clusters_view(spark, path: str):
    """(doc_id, cluster_id, is_keeper, cluster_size) over a synced cluster
    table. The persisted core is the minimal (doc_id, cluster_id) assignment
    — keeper flags and sizes are one small groupBy away and would otherwise
    force every member row of a cluster to be rewritten when one doc joins
    or leaves it."""
    import os

    from recidiviz_data_spark.tables import artifacts

    r = artifacts.resolve(path)
    payload = r[0] if r is not None else path
    cur = spark.read.parquet(os.path.join(payload, "clusters"))
    sizes = cur.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cur.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
        "cluster_size",
    )


def neardup_clusters_sync(spark, table, path: str | None = None, *,
                          band_path: str | None = None,
                          rebuild_stale_fraction: float = 0.25,
                          changes=None, from_version: int | None = None,
                          to_version: int | None = None,
                          split_verify_cap: int = SPLIT_VERIFY_CAP) -> dict:
    """Keep the near-dup CLUSTER table in step with a miniberg CDC table —
    incremental connected components on top of the synced band index.

    The full clustering (``x_neardup_clusters``) is a corpus-wide shingle
    join + CC; re-running it per CDC batch re-scans the corpus. This sync
    instead touches only the batch's blast radius:

    1. ``band_index_sync`` advances the candidate index first (same diff).
    2. New/updated docs probe the index for LIVE candidate partners; the
       exact Jaccard rule (>= 0.3 over hot-capped shingles, frozen hot list)
       verifies candidates using ONLY the involved docs' texts — partners
       are point-read via ``read_keys`` (batch-bounded list), never a corpus
       scan.
    3. Verified edges merge clusters through a MINI component pass whose
       nodes are new doc ids + existing cluster ids — O(batch), not
       O(graph): an existing cluster participates as one node.
    4. Only AFFECTED clusters (touched by a merge, a removal, or a new
       member) are re-labeled to min(live member); untouched assignment rows
       carry verbatim. Deletes drop membership rows; a deleted/updated
       keeper hands the label to the next-smallest live member exactly.
    5. Clusters that LOST a member are re-verified internally: their
       remaining members' texts are point-read, same-cluster pairs re-pass
       the exact Jaccard rule, and the mini component pass decides the
       cluster's post-removal partition — removing a BRIDGE doc splits the
       survivors exactly as the full reclustering would. The inline
       split-check is SIZE-CAPPED (``split_verify_cap``, default
       SPLIT_VERIFY_CAP): survivor counts are computed distributed, and a
       cluster above the cap skips it — survivors stay one cluster with an
       exact distributed keeper hand-off, and its members are counted
       toward the stale fraction so the deferred split lands at the next
       exact rebuild. Driver memory is therefore batch-bounded even when a
       delete touches a 10^7-doc boilerplate cluster.

    Honest residue, mirrored from every production dedup pipeline:
    candidates come from MinHash bands, so an incrementally-added pair the
    LSH misses is absent until the next full rebuild (the rebuild uses the
    exact shingle join); an over-cap shrunk cluster's split is deferred the
    same way. Both are bounded by ``rebuild_stale_fraction``: past it the
    sync re-runs the exact full clustering. ``changes`` (op/doc_id/text,
    with ``from_version`` / ``to_version`` = the snapshots the diff spans)
    skips the version diff exactly as in ``band_index_sync``, and the same
    diff advances the band index. Returns {action, version, live_docs,
    stale_docs, new_edges}."""
    call = dict(locals())  # every bound argument, for the conflict re-entry
    import os

    from recidiviz_data_spark.tables import artifacts

    base = path or table_clusters_path(table)
    bp = band_path or table_band_index_path(table)
    uid = artifacts.table_uid(table)

    def _rebuild(cur_v: int) -> dict:
        # the candidate index first: the stamp records the version it is at
        band_index_sync(spark, table, bp,
                        rebuild_stale_fraction=rebuild_stale_fraction)
        docs = materialize(table.read(spark).select("doc_id", "text"))
        live = docs.count()
        meta = {"table_uuid": uid, "version": cur_v,
                "live_docs": live, "stale_docs": 0,
                "consumed": {"band_index": _band_version(bp)[1]}}

        def _build(stage: str) -> None:
            os.makedirs(stage)
            x_neardup_clusters(spark, None, docs=docs).select(
                "doc_id", "cluster_id"
            ).write.parquet(os.path.join(stage, "clusters"))
            artifacts.write_sync_meta(stage, meta)

        artifacts.ensure(base, f"miniberg:{uid}:v{cur_v}", _build)
        return {"action": "rebuild", "version": cur_v, "live_docs": live,
                "stale_docs": 0, "new_edges": 0}

    def _advance(r0, meta, cur_v: int, changes) -> dict:
        changes, _appended, live, stale = index_delta(
            spark, table, meta, cur_v, changes, "text")
        # candidates first, from the same diff: band_index_sync applies it
        # only if its own sync.json is at the diff's base (an independently-
        # advanced band index re-diffs for its own span)
        band_index_sync(spark, table, bp,
                        rebuild_stale_fraction=rebuild_stale_fraction,
                        changes=changes, from_version=meta["version"],
                        to_version=cur_v)
        if stale > rebuild_stale_fraction * max(live, 1):
            return _rebuild(cur_v)

        payload, old_key, seq = r0
        cur = spark.read.parquet(os.path.join(payload, "clusters"))
        cur_s = cur.withColumn("cl_s", F.col("cluster_id").cast("string"))
        new_docs = materialize(
            changes.filter(F.col("op").isin("I", "U")).select("doc_id", "text")
        )
        new_ids = new_docs.select("doc_id")
        removed = changes.filter(F.col("op").isin("U", "D")).select("doc_id")

        # -- SHRUNK clusters (lost a member): connectivity may have broken (a
        # removed doc can be the bridge), so their remaining members leave the
        # one-node collapse and get re-verified pairwise below — the exact split
        # handling. Driver-side state is bounded by the BATCH, never by cluster
        # size: the per-cluster survivor COUNT is computed distributed (one row
        # per shrunk cluster — at most one per removed doc), and only clusters
        # at or under ``split_verify_cap`` have their members point-read for the
        # inline split-check. A mega cluster (boilerplate/template dedup
        # clusters are heavy-tailed at web scale) skips it: its survivors keep
        # one cluster (keeper hand-off stays exact — min(live member) is a
        # distributed aggregate), its members count toward the stale fraction,
        # and a missed split is folded at the periodic exact rebuild — the same
        # contract as LSH recall misses.
        removed_cl = (
            cur_s.join(removed, "doc_id", "left_semi")
            .select("cl_s").distinct().localCheckpoint()
        )
        survivor_counts = {
            r["cl_s"]: r["n"]
            for r in cur_s.join(F.broadcast(removed_cl), "cl_s", "left_semi")
            .join(removed, "doc_id", "left_anti")
            .groupBy("cl_s").agg(F.count("*").alias("n")).collect()
        }
        big_cl = {c for c, n in survivor_counts.items() if n > split_verify_cap}
        skipped_split_members = sum(survivor_counts[c] for c in big_cl)
        if skipped_split_members:
            # deferred split-checks are inexactness debt: count those members as
            # stale so repeated hits on mega clusters drive the exact rebuild
            stale += skipped_split_members
            if stale > rebuild_stale_fraction * max(live, 1):
                return _rebuild(cur_v)
        small_cl = removed_cl
        if big_cl:
            small_cl = removed_cl.join(
                spark.createDataFrame([(c,) for c in sorted(big_cl)], "cl_s string"),
                "cl_s", "left_anti",
            ).localCheckpoint()
        shrunk_members = (
            cur_s.join(F.broadcast(small_cl), "cl_s", "left_semi")
            .join(removed, "doc_id", "left_anti")
            .select("doc_id", "cl_s")
            .localCheckpoint()
        )
        member_ids = [r["doc_id"] for r in shrunk_members.select("doc_id").collect()]

        # -- candidates: probe the band index with the new docs, at the
        # version the sync.json stamp records. No live filter needed here: a
        # deleted partner's candidacy dies at verification — read_keys
        # returns no text for a tombstoned doc, so it contributes no shingles
        # and no edge (cheaper than semi-joining the corpus key set)
        band_payload, band_stamp = _band_version(bp)
        bands = band_index_bands(spark, band_payload)
        probe = bands.join(new_ids, "doc_id", "left_semi").alias("p")
        cand = (
            bands.alias("c")
            .join(
                probe,
                (F.col("c.band") == F.col("p.band"))
                & (F.col("c.h_lo") == F.col("p.h_lo"))
                & (F.col("c.h_hi") == F.col("p.h_hi"))
                & (F.col("c.doc_id") != F.col("p.doc_id")),
            )
            .select(F.col("p.doc_id").alias("np"), F.col("c.doc_id").alias("pp"))
            .distinct()
        )
        partner_ids = sorted(
            r["pp"]
            for r in cand.select("pp").join(new_ids.withColumnRenamed("doc_id", "pp"),
                                            "pp", "left_anti").distinct().collect()
        )  # batch-bounded: candidates of THIS batch only — never corpus-scale

        # -- exact Jaccard verification on the involved docs only (frozen hot
        # cap): new docs + their candidate partners + shrunk clusters' members
        point_ids = sorted(set(partner_ids) | set(member_ids))
        involved = new_docs
        if point_ids:
            involved = involved.unionByName(
                table.read_keys(spark, point_ids).select("doc_id", "text")
            )
        hot = spark.read.parquet(os.path.join(band_payload, "hot"))
        sh = materialize(
            _shingles(spark, None, docs=involved).join(
                F.broadcast(hot), "shingle", "left_anti"
            )
        )
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        a, b = sh.alias("a"), sh.alias("b")
        pairs = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .agg(F.count("*").alias("shared"))
        )
        ver = (
            pairs.join(sizes.withColumnRenamed("doc_id", "d1")
                       .withColumnRenamed("n", "na"), "d1")
            .join(sizes.withColumnRenamed("doc_id", "d2")
                  .withColumnRenamed("n", "nb"), "d2")
            .filter(F.col("shared").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("shared")) >= 0.3)
            .select("d1", "d2")
        )
        # keep only pairs touching a new doc (two old partners of different new
        # docs may incidentally share shingles — their pair is NOT part of this
        # batch's blast radius)...
        edges = (
            ver.join(new_ids.withColumnRenamed("doc_id", "d1"), "d1", "left_semi")
            .unionByName(
                ver.join(new_ids.withColumnRenamed("doc_id", "d2"), "d2", "left_semi")
            )
            .distinct()
            .localCheckpoint()
        )
        n_edges = edges.count()
        # ...plus SAME-shrunk-cluster member pairs: the re-verified internal
        # edges that decide whether a cluster that lost a member stays connected
        # or SPLITS (removing a bridge doc must split the survivors exactly as
        # the full reclustering would)
        intra = (
            ver.join(shrunk_members.withColumnRenamed("doc_id", "d1"), "d1")
            .join(shrunk_members.withColumnRenamed("doc_id", "d2")
                  .withColumnRenamed("cl_s", "cl2"), "d2")
            .filter(F.col("cl_s") == F.col("cl2"))
            .select("d1", "d2")
            .localCheckpoint()
        )
        n_intra = intra.count()

        # -- mini component pass: an endpoint that is an EXISTING doc in an
        # INTACT cluster collapses to its cluster id, so that whole cluster is
        # ONE node; members of SHRUNK clusters participate as themselves (their
        # cluster's connectivity is exactly what is being recomputed). Nodes are
        # NAMESPACED ("c:<cluster_id>" vs "d:<doc_id>"): cluster labels ARE doc
        # ids, so an updated doc participating as itself would otherwise collide
        # with the label of the cluster it just left (fusing them spuriously).
        # Removed docs are dropped from the endpoint->cluster map first — an
        # updated doc's old membership must not leak in.
        comp_groups = None
        if n_edges or n_intra:
            assign_live = (
                cur.select(
                    F.col("doc_id").alias("m_doc"),
                    F.concat(F.lit("c:"), F.col("cluster_id").cast("string")).alias("m_cl"),
                )
                .join(removed.withColumnRenamed("doc_id", "m_doc"), "m_doc", "left_anti")
                .join(shrunk_members.select(F.col("doc_id").alias("m_doc")),
                      "m_doc", "left_anti")
            )

            def _as_node(col):
                return F.coalesce(
                    F.col("m_cl"), F.concat(F.lit("d:"), F.col(col).cast("string"))
                )

            e1 = edges.join(assign_live.withColumnRenamed("m_doc", "d1"), "d1", "left") \
                      .select(_as_node("d1").alias("na"), F.col("d2"))
            mini = e1.join(assign_live.withColumnRenamed("m_doc", "d2"), "d2", "left") \
                     .select("na", _as_node("d2").alias("nb"))
            mini = mini.unionByName(
                intra.select(
                    F.concat(F.lit("d:"), F.col("d1").cast("string")).alias("na"),
                    F.concat(F.lit("d:"), F.col("d2").cast("string")).alias("nb"),
                )
            )
            comp_groups = connected_components(spark, mini, src="na", dst="nb")

        # -- affected clusters: merged ones, plus every cluster losing a member
        if comp_groups is not None:
            merged_cl = comp_groups.filter(F.col("node").startswith("c:")) \
                .select(F.expr("substring(node, 3)").alias("cl_s"))
            affected_cl = removed_cl.unionByName(merged_cl).distinct().localCheckpoint()
        else:
            affected_cl = removed_cl

        untouched = cur_s.join(F.broadcast(affected_cl), "cl_s", "left_anti") \
                         .join(removed, "doc_id", "left_anti")

        # -- rebuild the affected region: intact-cluster members grouped by
        # their cluster's mini-CC label, shrunk-cluster members and new docs by
        # their OWN node's label (self if edge-less — a split singleton), then
        # final label = min(doc_id) per group — keeper hand-off is exact
        old_aff = (
            cur_s.join(F.broadcast(affected_cl), "cl_s", "left_semi")
            .join(removed, "doc_id", "left_anti")
            .join(shrunk_members.select("doc_id", F.lit(True).alias("_sm")),
                  "doc_id", "left")
            .withColumn(
                "node",
                F.when(F.col("_sm"),
                       F.concat(F.lit("d:"), F.col("doc_id").cast("string")))
                .otherwise(F.concat(F.lit("c:"), F.col("cl_s"))),
            )
        )
        if comp_groups is not None:
            lbl = comp_groups.select(F.col("node"), F.col("cluster_id").alias("grp"))
            old_part = old_aff.join(lbl, "node", "left") \
                .select("doc_id", F.coalesce("grp", F.col("node")).alias("grp"))
            new_part = new_ids.withColumn(
                "node", F.concat(F.lit("d:"), F.col("doc_id").cast("string"))
            ).join(lbl, "node", "left") \
                .select("doc_id", F.coalesce("grp", F.col("node")).alias("grp"))
        else:
            old_part = old_aff.select("doc_id", F.col("node").alias("grp"))
            new_part = new_ids.select(
                "doc_id", F.concat(F.lit("d:"), F.col("doc_id").cast("string")).alias("grp"))
        region = old_part.unionByName(new_part)
        final = region.groupBy("grp").agg(F.min("doc_id").alias("cluster_id"))
        rebuilt = region.join(final, "grp").select("doc_id", "cluster_id")

        out = untouched.select("doc_id", "cluster_id").unionByName(rebuilt)
        new_meta = {"table_uuid": uid, "version": cur_v,
                    "live_docs": live, "stale_docs": stale,
                    "consumed": {"band_index": band_stamp}}

        def _build(stage: str) -> None:
            os.makedirs(stage)
            out.write.parquet(os.path.join(stage, "clusters"))
            artifacts.write_sync_meta(stage, new_meta)

        artifacts.publish(base, artifacts.mutated_key(old_key), _build,
                          expected_seq=seq)
        return {"action": "append", "version": cur_v, "live_docs": live,
                "stale_docs": stale, "new_edges": n_edges}

    return artifacts.sync(
        base, table, {"table_uuid": uid}, rebuild=_rebuild, advance=_advance,
        noop=lambda m: {"live_docs": m["live_docs"],
                        "stale_docs": m["stale_docs"], "new_edges": 0},
        retry=lambda: neardup_clusters_sync(**call),
        changes=changes, span=(from_version, to_version),
    )


SPAN_LEN = 8  # words per span for substring-level dedup


@_qx(
    "x_span_dedup",
    f"""
    WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                   FROM documents),
    grams AS (SELECT doc_id, i,
                     {PHASH_SQL.format(x=f"array_to_string(w[i:i+{SPAN_LEN - 1}], ' ')")} AS h
              FROM words,
                   UNNEST(generate_series(1, greatest(len(w)-{SPAN_LEN - 1}, 0))) t(i)),
    dup AS (SELECT doc_id, i FROM (
              SELECT doc_id, i,
                     MIN(doc_id) OVER (PARTITION BY h) AS mn,
                     MAX(doc_id) OVER (PARTITION BY h) AS mx
              FROM grams)
            WHERE mn <> mx),
    cov AS (SELECT doc_id, COUNT(DISTINCT pos) AS dup_words
            FROM dup, UNNEST(generate_series(i, i + {SPAN_LEN - 1})) p(pos)
            GROUP BY doc_id),
    cnt AS (SELECT doc_id, COUNT(*) AS n_dup_spans FROM dup GROUP BY doc_id)
    SELECT c.doc_id, CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
           CAST(dup_words AS BIGINT) AS dup_words
    FROM cnt c JOIN cov USING (doc_id)
    """,
)
def x_span_dedup(spark, sf_dir, docs=None):
    """Substring-level exact dedup (the Lee et al. "deduplicating training
    data" shape, word-granularity): every sliding SPAN_LEN-word span is
    hashed; spans appearing in MORE THAN ONE doc mark their word positions
    as duplicated. Output per affected doc: number of cross-doc duplicated
    span occurrences and the count of word positions they cover — the
    removal mask a training pipeline would cut.

    Scale shape: posexplode to (doc, pos, span-hash) rows is LINEAR in
    corpus words; cross-doc detection is min!=max(doc) over a hash-
    partitioned window (one shuffle, no pair join, no quadratic term);
    coverage re-explodes only DUPLICATED spans by the constant SPAN_LEN."""
    d = (docs if docs is not None else load(spark, sf_dir, "documents")).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )  # hash, not round-robin: no sortBeforeRepartition pass, deterministic
    from pyspark.sql.window import Window as _W

    words = F.split(F.trim("text"), r"\s+")
    # guard: sequence(1, n) is DESCENDING for n < 1 (same trap as _shingles)
    grams = F.when(
        F.size(words) >= SPAN_LEN,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (SPAN_LEN - 1)),
            lambda i: F.struct(
                i.alias("i"),
                F.concat_ws(" ", F.slice(words, i, SPAN_LEN)).alias("span"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:int,span:string>>"))
    g = (
        d.select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", "g.i", phash(F.col("g.span")).alias("h"))
    )
    w = _W.partitionBy("h")
    dup = (
        g.withColumn("mn", F.min("doc_id").over(w))
        .withColumn("mx", F.max("doc_id").over(w))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "i")
    )
    cov = (
        dup.select("doc_id", F.explode(F.sequence(F.col("i"), F.col("i") + (SPAN_LEN - 1))).alias("pos"))
        .groupBy("doc_id")
        .agg(F.countDistinct("pos").alias("dup_words"))
    )
    cnt = dup.groupBy("doc_id").agg(F.count("*").alias("n_dup_spans"))
    return cnt.join(cov, "doc_id").select("doc_id", "n_dup_spans", "dup_words")


@_qx(
    "x_dedup_funnel",
    f"""
    WITH RECURSIVE {_SHINGLES_CAPPED_SQL},
    {_JACCARD_SQL},
    edges AS (SELECT d1 AS a, d2 AS b FROM jac
              UNION ALL SELECT d2, d1 FROM jac),
    reach(node, lbl) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    nonkeep AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id),
    keepers AS (SELECT d.doc_id, d.text FROM documents d
                WHERE d.doc_id NOT IN (SELECT doc_id FROM nonkeep)),
    quality AS (SELECT doc_id FROM keepers
                WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 25)
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_total,
           CAST((SELECT COUNT(DISTINCT {PHASH_SQL.format(x="lower(trim(text))")})
                 FROM documents) AS BIGINT) AS n_exact_unique,
           CAST((SELECT COUNT(*) FROM keepers) AS BIGINT) AS n_neardup_keepers,
           CAST((SELECT COUNT(*) FROM quality) AS BIGINT) AS n_quality_kept
    """,
)
def x_dedup_funnel(spark, sf_dir):
    """Dedup-funnel observability — the per-stage retention report every
    corpus pipeline publishes: total docs -> distinct exact-content hashes
    -> near-dup cluster keepers (transitive Jaccard clusters, keeper = min
    doc_id) -> keepers passing the quality gate (>= 25 words). One row of
    four counts. The cluster stage reads the MATERIALIZED cluster table
    (built once per corpus snapshot by ``materialize_neardup_clusters``) —
    the funnel never re-runs the Jaccard + connected-components pass, which
    is how a production report actually consumes clustering output."""
    d = load(spark, sf_dir, "documents")
    clusters = spark.read.parquet(materialize_neardup_clusters(spark, sf_dir))
    keepers = clusters.filter("is_keeper").select("doc_id")
    kd = d.join(keepers, "doc_id", "left_semi")
    words = F.split(F.trim("text"), r"\s+")
    a = d.agg(
        F.count("*").alias("n_total"),
        F.countDistinct(phash(F.lower(F.trim("text")))).alias("n_exact_unique"),
    )
    b = kd.agg(F.count("*").alias("n_neardup_keepers"))
    c = kd.filter(F.size(words) >= 25).agg(F.count("*").alias("n_quality_kept"))
    return a.crossJoin(b).crossJoin(c)


@_qx(
    "x_span_scrub",
    f"""
    WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                   FROM documents),
    grams AS (SELECT doc_id, i,
                     {PHASH_SQL.format(x=f"array_to_string(w[i:i+{SPAN_LEN - 1}], ' ')")} AS h
              FROM words,
                   UNNEST(generate_series(1, greatest(len(w)-{SPAN_LEN - 1}, 0))) t(i)),
    dup AS (SELECT doc_id, i FROM (
              SELECT doc_id, i,
                     MIN(doc_id) OVER (PARTITION BY h) AS mn,
                     MAX(doc_id) OVER (PARTITION BY h) AS mx
              FROM grams)
            WHERE mn <> mx),
    cut AS (SELECT DISTINCT doc_id, pos
            FROM dup, UNNEST(generate_series(i, i + {SPAN_LEN - 1})) p(pos)),
    wpos AS (SELECT doc_id, pos, w[pos] AS word
             FROM words, UNNEST(generate_series(1, len(w))) t(pos)),
    kept AS (SELECT wp.doc_id, wp.pos, wp.word FROM wpos wp
             WHERE NOT EXISTS (SELECT 1 FROM cut
                               WHERE cut.doc_id = wp.doc_id AND cut.pos = wp.pos)),
    cleaned AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
                       COUNT(*) AS n_kept
                FROM kept GROUP BY doc_id),
    nwords AS (SELECT doc_id, len(w) AS nw FROM words)
    SELECT n.doc_id, COALESCE(c.clean_text, '') AS clean_text,
           CAST(n.nw - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed
    FROM nwords n LEFT JOIN cleaned c USING (doc_id)
    """,
)
def x_span_scrub(spark, sf_dir, docs=None):
    """Stage 2 of substring dedup: actually CUT the cross-doc duplicated
    spans out of the text (x_span_dedup reports the mask; this applies it).
    Every doc comes back with its masked word positions removed and
    whitespace normalized — the corpus a training pipeline would keep.

    Scale shape stays linear: dup positions come from the same single
    hash-partitioned window; the cut is an anti-join on (doc, pos); text
    reassembly is a per-doc sort of kept (pos, word) structs — partitioned
    by doc_id, never global."""
    d = (docs if docs is not None else load(spark, sf_dir, "documents")).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )  # hash, not round-robin: no sortBeforeRepartition pass, deterministic
    from pyspark.sql.window import Window as _W

    words = F.split(F.trim("text"), r"\s+")
    grams = F.when(
        F.size(words) >= SPAN_LEN,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (SPAN_LEN - 1)),
            lambda i: F.struct(
                i.alias("i"),
                F.concat_ws(" ", F.slice(words, i, SPAN_LEN)).alias("span"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:int,span:string>>"))
    g = (
        d.select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", "g.i", phash(F.col("g.span")).alias("h"))
    )
    w = _W.partitionBy("h")
    dup = (
        g.withColumn("mn", F.min("doc_id").over(w))
        .withColumn("mx", F.max("doc_id").over(w))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "i")
    )
    cut = dup.select(
        "doc_id", F.explode(F.sequence(F.col("i"), F.col("i") + (SPAN_LEN - 1))).alias("pos")
    ).distinct()
    wpos = d.select(
        "doc_id", F.posexplode(words).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    kept = wpos.join(cut, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    nwords = d.select("doc_id", F.size(words).alias("nw"))
    return nwords.join(cleaned, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        (F.col("nw") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
    )


@_qx(
    "x_incremental_dedup",
    f"""
    WITH ex AS (SELECT DISTINCT {PHASH_SQL.format(x="lower(trim(text))")} AS h
                FROM documents WHERE doc_id < 250),
    inc AS (SELECT doc_id, {PHASH_SQL.format(x="lower(trim(text))")} AS h
            FROM documents WHERE doc_id >= 250),
    kept AS (SELECT inc.doc_id FROM inc
             WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.h = inc.h))
    SELECT CAST((SELECT COUNT(*) FROM inc) AS BIGINT) AS n_incoming,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST((SELECT COUNT(*) FROM inc) - COUNT(*) AS BIGINT) AS n_dropped,
           CAST(COALESCE(MIN(doc_id), -1) AS BIGINT) AS first_kept
    FROM kept
    """,
)
def x_incremental_dedup(spark, sf_dir):
    """Cross-corpus incremental dedup — the shape a streaming ingest actually
    runs: drop incoming docs whose normalized content hash already exists in
    the ingested corpus (LEFT ANTI join on the hash). The existing-corpus
    side reduces to DISTINCT hashes first, so at 100TB the anti-join probes
    a hash set (or a broadcast bloom of it), never the corpus rows. Demo
    split: docs 0-249 = existing corpus, 250+ = incoming batch."""
    d = load(spark, sf_dir, "documents")
    h = phash(F.lower(F.trim("text")))
    ex = d.filter("doc_id < 250").select(h.alias("h")).distinct()
    inc = d.filter("doc_id >= 250").select("doc_id", h.alias("h"))
    kept = inc.join(ex, "h", "left_anti")
    n_inc = inc.agg(F.count("*").alias("n_incoming"))
    return (
        kept.agg(
            F.count("*").alias("n_kept"),
            F.coalesce(F.min("doc_id"), F.lit(-1)).cast("long").alias("first_kept"),
        )
        .crossJoin(F.broadcast(n_inc))
        .select(
            "n_incoming",
            "n_kept",
            (F.col("n_incoming") - F.col("n_kept")).alias("n_dropped"),
            "first_kept",
        )
    )

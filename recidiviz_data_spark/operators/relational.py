"""Relational operator coverage (SURVEY.md §2) as driver-contract queries.

Every entry has a Spark implementation in ``QUERIES[name]`` and an equivalent
ANSI-SQL oracle in ``ORACLES[name]`` (DuckDB, same parquet tables). Keys are
prefixed with the SURVEY §2 operator row they cover (a1=groupBy aggs,
j3=dimension joins, w2=sessionization, ...).

Exactness conventions (the driver hashes raw values):
- money/quantity sums go through DECIMAL(18,4) so both engines sum exactly,
  then cast to DOUBLE (bit-identical) — never sum raw doubles (fold order);
- averages = exact decimal sum cast to double, divided by count (IEEE-stable);
- timestamps are cast to DATE or formatted — never emitted raw;
- every row_number/limit has a total-order tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recidiviz_data_spark.operators.base import _q, _qx


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _roundtrip_cache_tag(sf_dir: str, table: str) -> str:
    """Cache key for the S2/S3/S6 round-trip materializations under /tmp:
    includes the SOURCE parquet's (mtime_ns, size), so regenerating testdata
    in place invalidates the cache instead of serving stale rows."""
    import hashlib
    import os

    src = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(src)
        sig = f"{src}:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        sig = src  # multi-file/dir layouts: fall back to path-only keying
    return hashlib.md5(sig.encode()).hexdigest()[:12]


def dec_sum(col, alias: str):
    """Exact sum: decimal accumulate, double out."""
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double").alias(alias)


def dec_expr_sum(expr, alias: str):
    return F.sum(expr.cast("decimal(18,4)")).cast("double").alias(alias)


# ---------------------------------------------------------------- A1/A2: aggs
@_q(
    "a1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the reference's view-layer COUNT/SUM GROUP BYs (A1/A2).

    The filtered 6-column slice is hash-repartitioned to cluster parallelism
    before the aggregate: the demo lineitem parquet has 6 row groups, so the
    DECIMAL-exact partial aggregation (the dominant per-row cost — measured
    1.3 s of the 2.2 s total) would otherwise run on 6 tasks. The shuffle
    moves only the projected slice (shipdate filter already pushed to the
    scan); measured 2.23 -> 1.25 s at sf1.0. On a many-file lake scan the
    repartition is a cheap rebalance."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    ).filter(
        F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date")
    ).repartition(spark.sparkContext.defaultParallelism, "l_extendedprice")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_expr_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            (F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "a4_distinct_counts",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def a4_distinct_counts(spark, sf_dir):
    # COUNT(DISTINCT) plans as Expand x3 + a keyed partial aggregate that
    # would run on the 2-row-group scan's 2 tasks; hash-repartition the
    # 3-column slice first (guide §2.5)
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey", "o_orderdate"
    ).repartition(spark.sparkContext.defaultParallelism, "o_custkey")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct(F.to_date("o_orderdate")).alias("n_days"),
        F.count("*").alias("n_orders"),
    )


@_q(
    "a6_cube",
    """
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           grouping(l_returnflag) + 2 * grouping(l_linestatus) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a6_cube(spark, sf_dir):
    """Multi-dimensional combos — native replacement for the reference
    calculator's hand-enumerated dimension subsets (SURVEY §2.4 A6).

    Pre-aggregates by the full (flag, status) key FIRST, then cubes the tiny
    partial table: CUBE's Expand multiplies every input row x4 BEFORE the
    partial aggregate, so cubing the base table shuffles/aggregates 4x the
    fact rows, while cubing the per-key partials expands only O(distinct
    keys) rows. SUM of per-key decimal partial sums == the direct decimal
    SUM (exact), and grouping() flags come from the outer cube unchanged."""
    li = load(spark, sf_dir, "lineitem")
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_s"),
    )
    return (
        pre.cube("l_returnflag", "l_linestatus")
        .agg(
            (F.grouping("l_returnflag") + 2 * F.grouping("l_linestatus")).alias("gid"),
            F.sum("_n").alias("n"),
            F.sum("_s").cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "gid", "n", "sum_qty",
        )
    )


@_qx(
    "a6_rollup_orderdate",
    """
    SELECT coalesce(CAST(year(o_orderdate) AS BIGINT), -1) AS yr,
           coalesce(CAST(month(o_orderdate) AS BIGINT), -1) AS mo,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
    """,
)
def a6_rollup_orderdate(spark, sf_dir):
    o = load(spark, sf_dir, "orders").withColumn("yr0", F.year("o_orderdate")).withColumn(
        "mo0", F.month("o_orderdate")
    )
    return (
        o.rollup("yr0", "mo0")
        .agg(F.count("*").alias("n_orders"), dec_sum("o_totalprice", "revenue"))
        .select(
            F.coalesce(F.col("yr0").cast("long"), F.lit(-1)).alias("yr"),
            F.coalesce(F.col("mo0").cast("long"), F.lit(-1)).alias("mo"),
            "n_orders", "revenue",
        )
    )


@_q(
    "a6_grouping_sets",
    """
    SELECT coalesce(c_mktsegment, '<all>') AS segment,
           coalesce(n_name, '<all>') AS nation,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
    """,
)
def a6_grouping_sets(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).createOrReplaceTempView("_gs_cn")
    return spark.sql(
        """
        SELECT coalesce(c_mktsegment, '<all>') AS segment,
               coalesce(n_name, '<all>') AS nation,
               COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        FROM _gs_cn GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        """
    )


# ------------------------------------------------------------------ J*: joins
@_q(
    "j3_dim_join_revenue",
    """
    SELECT r_name AS region, n_name AS nation,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def j3_dim_join_revenue(spark, sf_dir):
    """Fact ⨝ broadcast dimension chain (reference view joins, J3).

    The dimension chain is FUSED before it meets the fact table: customer ⨝
    nation ⨝ region collapses to one broadcast (c_custkey -> region, nation)
    dim, so each fact row runs two hash probes (orders, cdim) instead of
    four (guide §3.1). Every input is projected to exactly the join/agg
    columns (guide §2.3 'project before the exchange'), and the fact slice
    is hash-repartitioned to cluster parallelism past the row-group-bounded
    scan. At lake scale, where orders outgrows executor memory, the
    F.broadcast(o) hint is the knob to drop so the planner reverts to a
    shuffle join for that edge."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ).repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    # the demo lineitem parquet has 6 row groups, so the scan stage (which
    # runs the probes and the partial aggregate) is capped at 6 tasks; the
    # hash repartition of the 3-column slice spreads probe+agg over the full
    # cluster (no sortBeforeRepartition pass; a many-file lake scan makes
    # this a cheap rebalance). Probed variants: the unrepartitioned chain
    # 3.6 s, a pre-agg-by-orderkey form 4.6 s (decimal partial agg serializes
    # on the 6 scan tasks), this shape 1.7-2.1 s at sf1.0.
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cdim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("c_custkey", "r_name", "n_name")
    )
    # build sides must stay the dimension slices, never the (projected) fact:
    # a 3-column lineitem slice's size ESTIMATE can fall under the broadcast
    # threshold and flip the build side to the 4x-bigger fact (measured 7.2 s)
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cdim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            dec_expr_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_items"),
        )
    )


@_q(
    "j1_semi_join",
    """
    SELECT n_name AS nation, COUNT(*) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45)
    GROUP BY n_name
    """,
)
def j1_semi_join(spark, sf_dir):
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    li = load(spark, sf_dir, "lineitem").filter("l_quantity > 45")
    return (
        s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_suppliers"))
    )


@_qx(
    "j1_anti_join",
    """
    SELECT c_mktsegment AS segment, COUNT(*) AS n_customers_without_orders
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    GROUP BY c_mktsegment
    """,
)
def j1_anti_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_customers_without_orders"))
    )


@_q(
    "j1_merge_full_outer",
    """
    WITH h1 AS (SELECT o_custkey k, COUNT(*) n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) v
                FROM orders WHERE year(o_orderdate) <= 1997 GROUP BY 1),
         h2 AS (SELECT o_custkey k, COUNT(*) n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) v
                FROM orders WHERE year(o_orderdate) >  1997 GROUP BY 1)
    SELECT CASE WHEN h1.k IS NULL THEN 'insert'
                WHEN h2.k IS NULL THEN 'delete'
                WHEN h1.v <> h2.v THEN 'update' ELSE 'unchanged' END AS op,
           COUNT(*) AS n_keys
    FROM h1 FULL OUTER JOIN h2 ON h1.k = h2.k
    GROUP BY 1
    """,
)
def j1_merge_full_outer(spark, sf_dir):
    """The MERGE/entity-matching core (J1): full-outer join of two snapshot
    states, classifying keys insert/update/delete — the differ shape.

    Fused form: the two halves partition one table by a row predicate, so the
    full-outer join of their per-key aggregates == ONE conditional aggregation
    per key (a key is 'in h1' iff it has >= 1 yr<=1997 row). One scan and one
    shuffle instead of two scans + two shuffles + a full-outer join; the
    at-scale differ over two INDEPENDENT snapshots keeps the join form
    (cdc_snapshot_diff / cdc/differ.py)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    ).repartition(spark.sparkContext.defaultParallelism, "o_custkey")
    # hash-repartition on the grouping key: the demo orders parquet has 2 row
    # groups (scan parallelism 2), so the per-key aggregate would otherwise
    # run its partial phase on 2 tasks; partitioning by o_custkey is reused
    # by the groupBy (no second exchange) and, unlike keyless round-robin,
    # needs no sortBeforeRepartition pass
    yr = F.year("o_orderdate")
    p = F.col("o_totalprice").cast("decimal(18,4)")
    g = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.when(yr <= 1997, 1)).alias("n1"),
        F.sum(F.when(yr <= 1997, p)).cast("double").alias("v1"),
        F.count(F.when(yr > 1997, 1)).alias("n2"),
        F.sum(F.when(yr > 1997, p)).cast("double").alias("v2"),
    )
    op = (
        F.when(F.col("n1") == 0, "insert")
        .when(F.col("n2") == 0, "delete")
        .when(F.col("v1") != F.col("v2"), "update")
        .otherwise("unchanged")
    )
    return g.select(op.alias("op")).groupBy("op").agg(F.count("*").alias("n_keys"))


@_q(
    "j4_date_spine",
    """
    SELECT strftime(day, '%Y-%m-%d') AS day, COUNT(*) AS n_open_orders
    FROM (SELECT unnest(generate_series(CAST(o_orderdate AS DATE),
                                        CAST(o_orderdate AS DATE) + INTERVAL 6 DAY,
                                        INTERVAL 1 DAY))::DATE AS day
          FROM orders)
    GROUP BY day
    """,
)
def j4_date_spine(spark, sf_dir):
    """Date-spine interval join (J4): sequence+explode turns the range join
    into an equi-join on day — the scalable idiom for daily-population views."""
    o = load(spark, sf_dir, "orders")
    # aggregate BEFORE the explode (guide §2.3): counting orders per
    # orderdate first shrinks the exploded stream from 7x fact rows to
    # 7 x O(distinct dates) rows — the spine join then sums the per-date
    # counts. Identical result; the sequence/date_format work runs on
    # thousands of rows instead of millions.
    per_date = o.groupBy(F.to_date("o_orderdate").alias("d0")).agg(
        F.count("*").alias("_n")
    )
    return (
        per_date.select(
            F.explode(F.sequence(F.col("d0"), F.date_add(F.col("d0"), 6))).alias("day"),
            "_n",
        )
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.sum("_n").alias("n_open_orders"))
    )


@_q(
    "j6_asof_latest",
    """
    SELECT user_id, event_type AS last_type, value AS last_value
    FROM (SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
          FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
    WHERE rn = 1
    """,
)
def j6_asof_latest(spark, sf_dir):
    """As-of lookup (J6): latest state per key at time t — exactly the
    reference's 'open snapshot valid at t' query over history tables."""
    # timestamp_ntz literal: comparison stays timezone-free no matter what
    # session timezone the (driver-owned) SparkSession uses
    e = load(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", F.col("event_type").alias("last_type"), F.col("value").alias("last_value"))
    )


# ------------------------------------------------------------- W*: windows
@_q(
    "w1_topk_per_group",
    """
    SELECT p_brand AS brand, p_partkey, p_retailprice
    FROM (SELECT *, row_number() OVER (
            PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) rn
          FROM part)
    WHERE rn <= 3
    """,
)
def w1_topk_per_group(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .select(F.col("p_brand").alias("brand"), "p_partkey", "p_retailprice")
    )


@_qx(
    "w1_rank_dense_ntile",
    """
    SELECT o_orderpriority AS priority,
           CAST(rank()       OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk,
           CAST(dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS drnk,
           CAST(ntile(4)     OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile,
           o_orderkey
    FROM orders WHERE o_totalprice > 400000
    """,
)
def w1_rank_dense_ntile(spark, sf_dir):
    o = load(spark, sf_dir, "orders").filter("o_totalprice > 400000")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        F.col("o_orderpriority").alias("priority"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        "o_orderkey",
    )


@_q(
    "w2_sessionize",
    """
    WITH g AS (
      SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def w2_sessionize(spark, sf_dir):
    """Sessionization via lag (W2) — the reference's release->readmission
    pairing re-expressed as a window, not a per-person Python loop."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ - NTZ yields a day-time interval: timezone-free (no LTZ cast that
    # would depend on the session timezone)
    gap = F.col("ts") - F.lag("ts").over(w)
    new_s = F.when(gap.isNull() | (gap > F.expr("INTERVAL '30' MINUTE")), 1).otherwise(0)
    return (
        e.withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
    )


@_q(
    "w2_followup_rate",
    """
    WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         pur AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         per_err AS (
           SELECT err.event_id,
                  strftime(date_trunc('week', err.ts), '%Y-%m-%d') AS week,
                  MAX(CASE WHEN pur.user_id IS NOT NULL THEN 1 ELSE 0 END) AS hit
           FROM err LEFT JOIN pur
             ON err.user_id = pur.user_id
            AND pur.ts > err.ts AND pur.ts <= err.ts + INTERVAL 7 DAY
           GROUP BY 1, 2)
    SELECT week, COUNT(*) AS n_errors, CAST(SUM(hit) AS BIGINT) AS n_followed,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS followup_rate
    FROM per_err GROUP BY week
    """,
)
def w2_followup_rate(spark, sf_dir):
    """The recidivism-calculator shape (SURVEY §3.3): event -> did a follow-up
    event occur within N days -> cohort rate per period."""
    e = load(spark, sf_dir, "events")
    err = e.filter("event_type = 'error'").select("event_id", "user_id", "ts")
    pur = e.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    j = err.join(
        pur,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    per_err = j.groupBy(
        "event_id", F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week")
    ).agg(F.max(F.when(F.col("p_user").isNotNull(), 1).otherwise(0)).alias("hit"))
    return per_err.groupBy("week").agg(
        F.count("*").alias("n_errors"),
        F.sum("hit").alias("n_followed"),
        (F.sum("hit").cast("double") / F.count("*")).alias("followup_rate"),
    )


@_q(
    "w3_running_sum",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_revenue
    FROM lineitem WHERE l_suppkey <= 20
    """,
)
def w3_running_sum(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter("l_suppkey <= 20")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).over(w).cast("double").alias("running_revenue"),
    )


# ----------------------------------------------------- O/U: sort/limit/setops
@_q(
    "o2_top_orders",
    """
    SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def o2_top_orders(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_totalprice", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
    )


@_q(
    "u1_stitch_precedence",
    """
    WITH unioned AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, value, 1 AS precedence, event_id
      FROM events WHERE event_type IN ('purchase', 'signup')
      UNION ALL
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, value, 2 AS precedence, event_id
      FROM events WHERE event_type IN ('click', 'view')
    )
    SELECT user_id, day, value AS chosen_value, precedence AS chosen_src
    FROM (SELECT *, row_number() OVER (
            PARTITION BY user_id, day ORDER BY precedence, event_id) rn
          FROM unioned)
    WHERE rn = 1
    """,
)
def u1_stitch_precedence(spark, sf_dir):
    """The reference's stitch views (J5/U1): UNION ALL overlapping sources,
    keep one row per key by source precedence.

    Optimized shape: the two UNION branches partition one table, so a single
    scan computes precedence as a CASE (no double read), and the
    row_number-over-sort top-1 collapses to min(struct(precedence, event_id,
    value)) — a partial+final SortAggregate above the one keyed exchange
    instead of a row_number window pass (struct ordering is lexicographic:
    min precedence, then min event_id — exactly the window's ORDER BY;
    event_id is the total-order tiebreak, so the winner is identical)."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_type", "event_id"
    ).repartition(spark.sparkContext.defaultParallelism, "user_id")
    # hash-repartition on user_id: single-row-group scan otherwise runs the
    # partial (sort-)aggregate on one task; hashpartitioning(user_id)
    # satisfies the groupBy(user_id, day) distribution, so no extra exchange
    prec = F.when(F.col("event_type").isin("purchase", "signup"), 1).when(
        F.col("event_type").isin("click", "view"), 2
    )
    u = e.withColumn("precedence", prec).filter(F.col("precedence").isNotNull())
    best = u.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.min(F.struct("precedence", "event_id", "value")).alias("_w"))
    return best.select(
        "user_id", "day", F.col("_w.value").alias("chosen_value"),
        F.col("_w.precedence").alias("chosen_src"),
    )


@_qx(
    "u1_union_schema_evolution",
    """
    SELECT source, COUNT(*) AS n, COUNT(extra) AS n_with_extra
    FROM (
      SELECT 'old' AS source, c_custkey, NULL AS extra FROM customer WHERE c_custkey % 2 = 0
      UNION ALL BY NAME
      SELECT 'new' AS source, c_custkey, c_mktsegment AS extra FROM customer WHERE c_custkey % 2 = 1
    )
    GROUP BY source
    """,
)
def u1_union_schema_evolution(spark, sf_dir):
    """unionByName(allowMissingColumns=True) — the schema-evolution union."""
    c = load(spark, sf_dir, "customer")
    old = c.filter("c_custkey % 2 = 0").select(F.lit("old").alias("source"), "c_custkey")
    new = c.filter("c_custkey % 2 = 1").select(
        F.lit("new").alias("source"), "c_custkey", F.col("c_mktsegment").alias("extra")
    )
    u = old.unionByName(new, allowMissingColumns=True)
    return u.groupBy("source").agg(
        F.count("*").alias("n"), F.count("extra").alias("n_with_extra")
    )


@_q(
    "u2_except_intersect",
    """
    WITH with_orders AS (SELECT DISTINCT o_custkey AS k FROM orders),
         rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
    SELECT 'rich_without_orders' AS grp, COUNT(*) AS n
    FROM (SELECT k FROM rich EXCEPT SELECT k FROM with_orders)
    UNION ALL
    SELECT 'rich_with_orders' AS grp, COUNT(*) AS n
    FROM (SELECT k FROM rich INTERSECT SELECT k FROM with_orders)
    """,
)
def u2_except_intersect(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    rich = c.filter("c_acctbal > 5000").select(F.col("c_custkey").alias("k"))
    w = o.select(F.col("o_custkey").alias("k")).distinct()
    ex = rich.subtract(w)  # EXCEPT (set semantics)
    it = rich.intersect(w)
    # global agg (not groupBy) so an empty set still yields a 0-count row
    a = ex.agg(F.count("*").alias("n")).select(F.lit("rich_without_orders").alias("grp"), "n")
    b = it.agg(F.count("*").alias("n")).select(F.lit("rich_with_orders").alias("grp"), "n")
    return a.unionByName(b)


# -------------------------------------------------- P/F: transforms & scalars
@_q(
    "p2_enum_normalize",
    """
    SELECT CASE o_orderpriority
             WHEN '1-URGENT' THEN 'URGENT' WHEN '2-HIGH' THEN 'HIGH'
             WHEN '3-MEDIUM' THEN 'MEDIUM' WHEN '4-NOT SPECIFIED' THEN 'UNSPECIFIED'
             ELSE 'LOW' END AS priority_enum,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def p2_enum_normalize(spark, sf_dir):
    """Enum normalization (P2): raw string -> canonical enum via a map
    expression (the reference's converter/EnumOverrides, vectorized)."""
    o = load(spark, sf_dir, "orders")
    mapping = F.create_map(
        F.lit("1-URGENT"), F.lit("URGENT"),
        F.lit("2-HIGH"), F.lit("HIGH"),
        F.lit("3-MEDIUM"), F.lit("MEDIUM"),
        F.lit("4-NOT SPECIFIED"), F.lit("UNSPECIFIED"),
    )
    enum = F.coalesce(mapping[F.col("o_orderpriority")], F.lit("LOW"))
    return o.select(enum.alias("priority_enum")).groupBy("priority_enum").agg(
        F.count("*").alias("n")
    )


@_q(
    "p3_string_funcs",
    """
    SELECT upper(trim(split_part(p_type, ' ', 1))) AS type_head,
           CAST(length(p_name) AS BIGINT) AS name_len,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           regexp_extract(p_brand, '[0-9]+$', 0) AS brand_num,
           COUNT(*) AS n
    FROM part GROUP BY 1, 2, 3, 4
    """,
)
def p3_string_funcs(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.select(
        F.upper(F.trim(F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)))).alias("type_head"),
        F.length("p_name").cast("long").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.regexp_extract("p_brand", "[0-9]+$", 0).alias("brand_num"),
    ).groupBy("type_head", "name_len", "size_padded", "brand_num").agg(F.count("*").alias("n"))


@_q(
    "p4_validate_split",
    """
    SELECT n_name AS nation,
           CAST(SUM(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def p4_validate_split(spark, sf_dir):
    """Row validation with side-output counting (P4, the reference's
    error-threshold gate)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.when(F.col("c_acctbal") >= 0, 1).otherwise(0)).alias("n_valid"),
            F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).alias("n_invalid"),
        )
    )


@_q(
    "f_date_funcs",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           COUNT(*) AS n,
           CAST(SUM(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01')) AS BIGINT) AS total_days_before_y2k,
           strftime(MIN(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY), '%Y-%m-%d') AS min_due
    FROM orders GROUP BY 1, 2
    """,
)
def f_date_funcs(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.datediff(F.lit("2000-01-01").cast("date"), F.to_date("o_orderdate"))).cast("long").alias("total_days_before_y2k"),
        F.date_format(F.min(F.date_add(F.to_date("o_orderdate"), 30)), "yyyy-MM-dd").alias("min_due"),
    )


@_q(
    "f_case_math",
    """
    SELECT CASE WHEN l_discount = 0 THEN 'none'
                WHEN l_discount < 0.05 THEN 'low' ELSE 'high' END AS disc_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice * l_tax AS DECIMAL(18,4))) AS DOUBLE) AS total_tax,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty
    FROM lineitem GROUP BY 1
    """,
)
def f_case_math(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_discount") == 0, "none")
        .when(F.col("l_discount") < 0.05, "low")
        .otherwise("high")
    )
    return li.groupBy(bucket.alias("disc_bucket")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("l_extendedprice") * F.col("l_tax")).cast("decimal(18,4)")).cast("double").alias("total_tax"),
        (F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double") / F.count("*")).alias("avg_qty"),
    )


@_q(
    "f_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events GROUP BY event_type
    """,
)
def f_json_extract(spark, sf_dir):
    """JSON scalar functions (SURVEY §2.6) over events.props.

    The JSON path is extracted ONCE in a projection (the two aggregate
    expressions otherwise each parse props per row — no CSE across agg
    expressions), and the 2-column slice is repartitioned to cluster
    parallelism first: the demo events table is a single parquet row group,
    so the parse would otherwise run on ONE task (scan parallelism is
    row-group-bounded); on a many-file lake input the repartition is a
    cheap rebalance of the pruned 2-column stream."""
    e = load(spark, sf_dir, "events").select(
        "event_type", "props", "event_id"
    ).repartition(spark.sparkContext.defaultParallelism, "event_id")
    k = F.get_json_object("props", "$.k")
    pro = e.select("event_type", k.alias("_k"))
    return pro.groupBy("event_type").agg(
        F.sum(F.col("_k").cast("long")).cast("long").alias("sum_k"),
        F.count("_k").alias("n_with_k"),
    )


@_q(
    "f_hash_bucket_lineage",
    """
    SELECT CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 16 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows, COUNT(DISTINCT o_custkey) AS n_keys
    FROM orders GROUP BY 1
    """,
)
def f_hash_bucket_lineage(spark, sf_dir):
    """Hash bucketing + per-bucket counts (A7 lineage analog) with a hash
    portable across engines (md5 prefix as int60)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").repartition(
        spark.sparkContext.defaultParallelism, "o_orderkey"
    )  # md5-per-row + COUNT(DISTINCT) spread past the 2-row-group scan
    h = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10).cast("long")
    return o.groupBy((h % 16).cast("long").alias("bucket")).agg(
        F.count("*").alias("n_rows"), F.countDistinct("o_custkey").alias("n_keys")
    )


@_qx(
    "f_pivot",
    """
    SELECT l_returnflag AS returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def f_pivot(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


# -------------------------------------------- CDC semantics on the test tables
@_q(
    "a5_lww_state",
    """
    SELECT user_id, event_type AS cur_type, value AS cur_value,
           strftime(ts, '%Y-%m-%d') AS cur_day
    FROM (SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
          FROM events)
    WHERE rn = 1
    """,
)
def a5_lww_state(spark, sf_dir):
    """Last-writer-wins collapse (A5) — the engine's dedup semantic run
    against the events stream: current state per user.

    row_number-desc top-1 == max(struct(ts, event_id, payload)): struct
    ordering is lexicographic (max ts, then max event_id — the window's
    DESC/DESC order with event_id as the total-order tiebreak), so the
    winner row is identical while the row_number window pass becomes a
    partial+final SortAggregate above the one keyed exchange — the same LWW
    shape the CDC apply path uses (cdc/apply.py::dedup_lww, strategy agg)."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    ).repartition(spark.sparkContext.defaultParallelism, "user_id")
    best = e.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("_w")
    )
    return best.select(
        "user_id", F.col("_w.event_type").alias("cur_type"),
        F.col("_w.value").alias("cur_value"),
        F.date_format("_w.ts", "yyyy-MM-dd").alias("cur_day"),
    )


@_qx(
    "cdc_snapshot_diff",
    """
    WITH s1 AS (SELECT user_id, value FROM (
                  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1),
         s2 AS (SELECT user_id, value FROM (
                  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events) WHERE rn = 1)
    SELECT CASE WHEN s1.user_id IS NULL THEN 'I'
                WHEN s2.user_id IS NULL THEN 'D'
                WHEN s1.value <> s2.value THEN 'U' ELSE 'N' END AS op,
           COUNT(*) AS n
    FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
    GROUP BY 1
    """,
)
def cdc_snapshot_diff(spark, sf_dir):
    """Snapshot differ (SURVEY §4.3.5): diff two table versions into I/U/D/N
    change events — the scrape-session diff that FEEDS the changelog."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def latest(df):
        return (
            df.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select("user_id", "value")
        )

    s1 = latest(e.filter(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")))
    s2 = latest(e)
    j = s1.alias("a").join(s2.alias("b"), F.col("a.user_id") == F.col("b.user_id"), "full_outer")
    op = (
        F.when(F.col("a.user_id").isNull(), "I")
        .when(F.col("b.user_id").isNull(), "D")
        .when(F.col("a.value") != F.col("b.value"), "U")
        .otherwise("N")
    )
    return j.select(op.alias("op")).groupBy("op").agg(F.count("*").alias("n"))


@_q(
    "st_tumbling_daily",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def st_tumbling_daily(spark, sf_dir):
    """Event-time tumbling window (streaming semantics, batch-equivalent):
    F.window(ts, '1 day') == date_trunc day grouping."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"), "event_type", "n", "total_value")
    )


# ----------------------------------------------------------- S*: sources
@_q(
    "s2_json_lines_source",
    """
    SELECT event_type, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events WHERE event_id % 10 = 0 GROUP BY event_type
    """,
)
def s2_json_lines_source(spark, sf_dir):
    """JSON source (S2): serialize a slice to JSON-lines, read it back with an
    explicit schema, aggregate — proves the JSON reader path end-to-end."""
    import os
    import tempfile

    e = load(spark, sf_dir, "events").filter("event_id % 10 = 0")
    tag = _roundtrip_cache_tag(sf_dir, "events")
    path = os.path.join(tempfile.gettempdir(), f"rds_jsonsrc_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        e.selectExpr("event_id", "event_type", "value").write.mode("overwrite").json(path)
    back = spark.read.schema("event_id long, event_type string, value double").json(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


@_q(
    "s3_csv_source",
    """
    SELECT n_name AS nation, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name
    """,
)
def s3_csv_source(spark, sf_dir):
    """CSV source (S3): round-trip supplier through CSV with an explicit
    schema (header on, no inference in prod), then join+agg."""
    import os
    import tempfile

    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    tag = _roundtrip_cache_tag(sf_dir, "supplier")
    path = os.path.join(tempfile.gettempdir(), f"rds_csvsrc_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        s.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal").write.mode(
            "overwrite"
        ).option("header", True).csv(path)
    back = spark.read.schema(
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    ).option("header", True).csv(path)
    return (
        back.join(F.broadcast(n), back.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,4)")).cast("double").alias("total_bal"),
        )
    )


@_q(
    "s7_view_materialization",
    """
    SELECT r_name AS region, COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name
    """,
)
def s7_view_materialization(spark, sf_dir):
    """View layer (S7): register temp views, query them in SQL — the
    reference's BigQueryView/view_manager analog."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("_v_nation")
    load(spark, sf_dir, "region").createOrReplaceTempView("_v_region")
    return spark.sql(
        """
        SELECT r_name AS region, COUNT(*) AS n_nations
        FROM _v_nation JOIN _v_region ON n_regionkey = r_regionkey GROUP BY r_name
        """
    )


@_q(
    "j2_fuzzy_match",
    """
    WITH a AS (SELECT c_custkey, c_nationkey, c_name FROM customer WHERE c_custkey % 2 = 0),
         b AS (SELECT c_custkey, c_nationkey,
                      concat(substr(c_name, 1, length(c_name) - 2), 'XX') AS c_name
               FROM customer WHERE c_custkey % 3 = 0)
    SELECT a.c_nationkey AS nation, COUNT(*) AS n_matches,
           CAST(SUM(levenshtein(a.c_name, b.c_name)) AS BIGINT) AS total_distance
    FROM a JOIN b ON a.c_nationkey = b.c_nationkey
                 AND levenshtein(a.c_name, b.c_name) <= 2
    GROUP BY a.c_nationkey
    """,
)
def j2_fuzzy_match(spark, sf_dir):
    """Fuzzy entity matching (J2): the reference falls back to name-similarity
    matching when no external id exists. Blocked nested-loop: equi-join on the
    blocking key (nation) first, then the edit-distance predicate — the only
    scalable shape for fuzzy joins. NOTE: nationkey is a 25-value demo block
    (O(n²/25) within a block); the at-scale variant with a high-cardinality
    name-prefix block is ``x_fuzzy_prefix_block`` below."""
    c = load(spark, sf_dir, "customer")
    # hash-repartition the probe side by its key: the demo customer parquet
    # is ONE row group, so the blocked pair expansion (the O(n²/blocks)
    # nested loop this query deliberately demonstrates) would otherwise run
    # inside a single scan task — the dominant cost at sf1.0 by far
    a = c.filter("c_custkey % 2 = 0").select(
        F.col("c_custkey").alias("a_key"), F.col("c_nationkey").alias("a_nat"),
        F.col("c_name").alias("a_name"),
    ).repartition(spark.sparkContext.defaultParallelism, "a_key")
    b = c.filter("c_custkey % 3 = 0").select(
        F.col("c_nationkey").alias("b_nat"),
        F.concat(
            F.expr("substr(c_name, 1, length(c_name) - 2)"), F.lit("XX")
        ).alias("b_name"),
    )
    # banded levenshtein with a length pre-guard: |len(a)-len(b)| <= 2 is
    # necessary for distance <= 2 and prunes most pairs with two cheap
    # length() calls before any DP matrix; levenshtein(a, b, 2) (the
    # 3-arg threshold form, Spark 3.5+) computes a banded O(len*k) DP with
    # early abandon and returns -1 above the threshold — the exact distance
    # for every surviving pair is unchanged, so results are identical while
    # the per-pair cost drops from O(len^2) full DP on every same-block
    # pair (measured ~8 min for the 25-block demo at sf1.0 -> seconds).
    bdist = F.levenshtein(F.col("a_name"), F.col("b_name"), 2)
    lens_ok = F.abs(F.length("a_name") - F.length("b_name")) <= 2
    j = a.join(b, (F.col("a_nat") == F.col("b_nat")) & lens_ok & (bdist >= 0))
    return (
        j.groupBy(F.col("a_nat").alias("nation"))
        .agg(F.count("*").alias("n_matches"), F.sum(bdist).alias("total_distance"))
    )


@_qx(
    "x_fuzzy_prefix_block",
    """
    WITH a AS (SELECT c_custkey, c_name,
                      substr(c_name, 1, length(c_name) - 4) AS blk
               FROM customer WHERE c_custkey % 2 = 0),
         b AS (SELECT concat(substr(c_name, 1, length(c_name) - 2), 'XX') AS c_name,
                      substr(c_name, 1, length(c_name) - 4) AS blk
               FROM customer WHERE c_custkey % 3 = 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(SUM(levenshtein(a.c_name, b.c_name)) AS BIGINT) AS total_distance,
           CAST(COUNT(DISTINCT a.c_custkey) AS BIGINT) AS n_matched_left
    FROM a JOIN b ON a.blk = b.blk AND levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def x_fuzzy_prefix_block(spark, sf_dir):
    """Fuzzy matching with a HIGH-CARDINALITY blocking key — the shape that
    survives 100x: blocks are name prefixes (one per entity neighborhood,
    cardinality ~n), so the within-block nested loop is O(1) per block
    instead of O(n²/25) on the 25-value nationkey demo block. An edit
    distance <= 2 confined to the name tail cannot cross a prefix block, so
    blocking loses no matches for this mangling model."""
    c = load(spark, sf_dir, "customer")
    blk = F.expr("substr(c_name, 1, length(c_name) - 4)")
    a = c.filter("c_custkey % 2 = 0").select(
        F.col("c_custkey").alias("a_key"), F.col("c_name").alias("a_name"),
        blk.alias("a_blk"),
    ).repartition(spark.sparkContext.defaultParallelism, "a_key")
    # (same single-row-group scan-parallelism fix as j2_fuzzy_match)
    b = c.filter("c_custkey % 3 = 0").select(
        F.concat(
            F.expr("substr(c_name, 1, length(c_name) - 2)"), F.lit("XX")
        ).alias("b_name"),
        blk.alias("b_blk"),
    )
    # same banded-threshold levenshtein as j2_fuzzy_match (exact distance
    # for pairs within the threshold, -1 above it — identical results)
    bdist = F.levenshtein(F.col("a_name"), F.col("b_name"), 2)
    return a.join(b, (F.col("a_blk") == F.col("b_blk")) & (bdist >= 0)).agg(
        F.count("*").alias("n_matches"),
        F.sum(bdist).alias("total_distance"),
        F.countDistinct("a_key").alias("n_matched_left"),
    )


@_q(
    "udf_grouped_map",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value_e4_sum,
           CAST(MAX(event_id) AS BIGINT) AS last_event_id
    FROM events GROUP BY user_id
    """,
)
def udf_grouped_map(spark, sf_dir):
    """applyInPandas (grouped-map pandas UDF, SURVEY §2.8): per-user stats
    computed in pandas — the escape hatch for per-key logic Catalyst cannot
    express. Values integer-scaled so pandas' pairwise summation matches SQL
    exactly."""
    import pandas as pd

    e = load(spark, sf_dir, "events").select("user_id", "event_id", "value")

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        from recidiviz_data_spark.functions.rounding import round_half_away

        v = pdf["value"].to_numpy() * 10000
        # exact SQL round() (half away from zero; pandas .round() is banker's
        # and floor(v+0.5) breaks at midpoint-adjacent doubles — CLAUDE.md)
        r = round_half_away(v).astype("int64")
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "value_e4_sum": [int(r.sum())],
                "last_event_id": [int(pdf["event_id"].max())],
            }
        )

    return e.groupBy("user_id").applyInPandas(
        per_user, schema="user_id bigint, n_events bigint, value_e4_sum bigint, last_event_id bigint"
    )


@_q(
    "s6_parquet_export",
    """
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders WHERE o_totalprice > 100000 GROUP BY o_orderstatus
    """,
)
def s6_parquet_export(spark, sf_dir):
    """Export pipeline (S6, the reference's Cloud SQL -> BigQuery export):
    per-table export query -> columnar files -> reload -> aggregate."""
    import os
    import tempfile

    o = load(spark, sf_dir, "orders").filter("o_totalprice > 100000").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tag = _roundtrip_cache_tag(sf_dir, "orders")
    path = os.path.join(tempfile.gettempdir(), f"rds_pqexport_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        o.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total"),
    )


@_qx(
    "f_safe_divide",
    """
    SELECT l_returnflag AS flag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / NULLIF(SUM(CAST(l_quantity AS DECIMAL(18,4))), 0) AS price_per_unit,
           CAST(SUM(CAST(CASE WHEN l_discount = 0 THEN l_extendedprice END AS DECIMAL(18,4))) AS DOUBLE)
             / NULLIF(COUNT(CASE WHEN l_discount = 0 THEN 1 END), 0) AS avg_undiscounted
    FROM lineitem GROUP BY l_returnflag
    """,
)
def f_safe_divide(spark, sf_dir):
    """SAFE_DIVIDE / try_divide (SURVEY §2.6 math row): null on zero
    denominators instead of errors — per-group unit prices."""
    li = load(spark, sf_dir, "lineitem")
    num = F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
    den = F.sum(F.col("l_quantity").cast("decimal(18,4)"))
    undisc = F.when(F.col("l_discount") == 0, F.col("l_extendedprice"))
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.try_divide(num, den.cast("double")).alias("price_per_unit"),
        F.try_divide(
            F.sum(undisc.cast("decimal(18,4)")).cast("double"),
            F.count(undisc).cast("double"),
        ).alias("avg_undiscounted"),
    )


@_qx(
    "p2_enum_overrides",
    """
    SELECT CASE
             WHEN n_regionkey = 0 AND o_orderpriority = '2-HIGH' THEN 'CRITICAL'
             WHEN o_orderpriority = '1-URGENT' THEN 'URGENT'
             WHEN o_orderpriority = '2-HIGH' THEN 'HIGH'
             WHEN o_orderpriority = '3-MEDIUM' THEN 'MEDIUM'
             ELSE 'LOW' END AS priority_enum,
           n_name AS nation, COUNT(*) AS n
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2
    """,
)
def p2_enum_overrides(spark, sf_dir):
    """Per-region enum OVERRIDES (the reference's EnumOverrides: a region can
    remap a raw value before the default map applies). Implemented as a
    broadcast override table joined ahead of the default mapping — the
    config-driven shape, not a hand-written CASE."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    overrides = spark.createDataFrame(
        [(0, "2-HIGH", "CRITICAL")], "ov_region int, ov_raw string, ov_enum string"
    )
    default_map = F.create_map(
        F.lit("1-URGENT"), F.lit("URGENT"),
        F.lit("2-HIGH"), F.lit("HIGH"),
        F.lit("3-MEDIUM"), F.lit("MEDIUM"),
    )
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(
            F.broadcast(overrides),
            (F.col("n_regionkey") == F.col("ov_region"))
            & (F.col("o_orderpriority") == F.col("ov_raw")),
            "left",
        )
    )
    enum = F.coalesce(
        F.col("ov_enum"), default_map[F.col("o_orderpriority")], F.lit("LOW")
    )
    return j.groupBy(enum.alias("priority_enum"), F.col("n_name").alias("nation")).agg(
        F.count("*").alias("n")
    )


@_qx(
    "x_session_window",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (SELECT user_id, ts, event_id,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS sid
          FROM g)
    SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def x_session_window(spark, sf_dir):
    """Native session windows (F.session_window, SURVEY §2.7 'not required'
    but free in Spark) vs the classic gaps-and-islands SQL. Session merge
    rule: an event joins while it lands BEFORE prev_ts + gap (so an exactly-
    30-minute gap starts a NEW session — hence >= in the oracle)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


@_qx(
    "x_percentiles",
    """
    SELECT l_returnflag AS flag,
           COUNT(*) AS n,
           CAST(median(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS median_cents,
           CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
           CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
    FROM lineitem GROUP BY l_returnflag
    """,
)
def x_percentiles(spark, sf_dir):
    """Exact order statistics (median on integer-scaled cents: midpoint mean
    of two exact ints is IEEE-exact in both engines — never median raw
    doubles, and percentile_approx is banned from oracle-checked queries)."""
    li = load(spark, sf_dir, "lineitem")
    # round BEFORE casting: Spark cast(long) truncates toward zero while
    # DuckDB CAST(double AS BIGINT) rounds — bare casts diverge on ~5% of
    # raw doubles (20729.44*100 = 2072943.9999999998)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("n"),
        F.median(cents).alias("median_cents"),
        F.min(cents).alias("min_cents"),
        F.max(cents).alias("max_cents"),
    )


@_qx(
    "x_orc_source",
    """
    SELECT p_brand AS brand, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM part WHERE p_size <= 20 GROUP BY p_brand
    """,
)
def x_orc_source(spark, sf_dir):
    """ORC source/sink round-trip (columnar format #2 beside parquet, built
    into Spark): export a slice to ORC, read it back with an explicit
    schema, aggregate — proves the ORC reader/writer path end-to-end, same
    shape as the S2/S3/S6 round-trips."""
    import os
    import tempfile

    p = load(spark, sf_dir, "part").filter("p_size <= 20").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    tag = _roundtrip_cache_tag(sf_dir, "part")
    path = os.path.join(tempfile.gettempdir(), f"rds_orcsrc_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        p.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "p_partkey long, p_brand string, p_size int, p_retailprice double"
    ).orc(path)
    return back.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").alias("n_parts"),
        F.sum(F.col("p_retailprice").cast("decimal(18,4)")).cast("double").alias("total_price"),
    )

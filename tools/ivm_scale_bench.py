"""IVM scale benchmark (round 7): measure what an incremental
`agg_view_sync` / `distinct_view_sync` costs relative to the full rebuild,
across the two batch shapes that matter:

- SCATTERED batch (keys hash across most buckets): the incremental path's
  two changed-bucket scans degenerate to two full scans — worse than the
  rebuild's one. The syncs detect this from `changed_buckets` (metadata
  only) via `rebuild_changed_fraction` and rebuild instead; this phase
  verifies the guard fires.
- CLUSTERED batch (keys from ONE bucket, a narrow group slice): the web-
  scale CDC shape — at 10^5 buckets a batch touches a tiny fraction. The
  sync reads only the moved bucket(s); the distinct view additionally
  rewrites only the support partitions holding the touched groups. This
  phase measures the incremental win. The agg view's min/max recompute
  scan runs only for groups whose stored min or max value the batch
  removed (``clustered_agg_recomputed_groups``); every other group, and
  every group of the insert-only clustered phase, merges its extrema with
  no scan.
- LOST-EXTREMUM batch (deletes the stored max row of 10 groups): every
  touched group lost its stored max, so the agg sync pays its one
  recompute scan of the current snapshot for those groups
  (``lostmax_agg_recomputed_groups`` = 10).

Run:  python tools/ivm_scale_bench.py [n_rows]
Prints one JSON line; wall numbers are from THIS host and only same-run
ratios are meaningful (shared-VM contention: see BENCH/BASELINE.md).
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
N_BUCKETS = 64
N_GROUPS = 1_000

spark = (
    SparkSession.builder.master("local[8]")
    .appName("ivm-scale-bench")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "16g")
    # as session.get_spark: table reads pass explicit paths, no listing job
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import shutil
import tempfile

from recidiviz_data_spark.cdc.apply import apply_batch, bootstrap_table
from recidiviz_data_spark.operators.aggview import (
    agg_view_read,
    agg_view_sync,
    distinct_view_read,
    distinct_view_sync,
)

root = tempfile.mkdtemp(prefix="rds_ivm_bench_")
out: dict = {"metric": "ivm_sync_vs_rebuild", "n_rows": N_ROWS,
             "n_buckets": N_BUCKETS, "n_groups": N_GROUPS}

df = (
    spark.range(N_ROWS)
    .select(
        F.format_string("doc_%09d", F.col("id")).alias("doc_id"),
        # nullif keeps the array element NULLABLE (containsNull=true), so the
        # bootstrap schema matches later event batches' createDataFrame arrays
        # (a containsNull=true -> false cast is illegal at schema-align time)
        F.array(F.nullif(F.lit(1), F.lit(0))).alias("tokens"),
        F.lit(1).cast("int").alias("n_tok"),
        F.format_string("g%04d", F.pmod(F.col("id"), F.lit(N_GROUPS))).alias("source"),
        F.pmod(F.col("id") * 7919, F.lit(100_000)).cast("int").alias("val"),
    )
)
t0 = time.time()
table = bootstrap_table(spark, os.path.join(root, "t"), df, num_buckets=N_BUCKETS)
out["bootstrap_s"] = round(time.time() - t0, 3)

ap, dp = (os.path.join(root, n) for n in ("agg", "dist"))
t0 = time.time()
r = agg_view_sync(spark, table, ap, group_col="source", value_col="val")
out["agg_rebuild_s"] = round(time.time() - t0, 3)
assert r["action"] == "rebuild" and r["groups"] == N_GROUPS
t0 = time.time()
distinct_view_sync(spark, table, dp, group_col="source", value_col="val")
out["dist_rebuild_s"] = round(time.time() - t0, 3)

EV = ("event_seq long, op string, doc_id string, tokens array<int>, "
      "n_tok int, source string, val int")

# ---- phase 1: SCATTERED batch — the fraction guard must reroute to rebuild
ev = spark.createDataFrame(
    [(i + 1, "I", f"doc_{900_000_000 + i:09d}", [1], 1,
      f"g{i % N_GROUPS:04d}", 999_999) for i in range(200)], EV)
v0 = table.current_version()
apply_batch(spark, table, ev, 0, compact=False)
out["scattered_changed_buckets"] = len(
    table.changed_buckets(v0, table.current_version()))
t0 = time.time()
r = agg_view_sync(spark, table, ap, group_col="source", value_col="val")
out["scattered_agg_s"] = round(time.time() - t0, 3)
out["scattered_agg_action"] = r["action"]  # expect: rebuild (guard)
t0 = time.time()
r = distinct_view_sync(spark, table, dp, group_col="source", value_col="val")
out["scattered_dist_s"] = round(time.time() - t0, 3)
out["scattered_dist_action"] = r["action"]

# ---- phase 2: CLUSTERED update/delete batch — keys from ONE bucket, groups
# confined to g0000..g0009 (the web-scale CDC shape at high bucket counts)
bucket0 = (
    table.read(spark)
    .filter(F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)) == 0)
    .filter(F.col("source") < "g0010")
    .select("doc_id", "source").limit(130).collect()
)
assert len(bucket0) >= 100, f"fixture too small: {len(bucket0)}"
upd = [(1000 + i, "U", row["doc_id"], [1], 1, row["source"], -5)
       for i, row in enumerate(bucket0[:100])]
del_ = [(2000 + i, "D", row["doc_id"], None, None, None, None)
        for i, row in enumerate(bucket0[100:])]
v0 = table.current_version()
apply_batch(spark, table, spark.createDataFrame(upd + del_, EV), 1, compact=False)
out["clustered_changed_buckets"] = len(
    table.changed_buckets(v0, table.current_version()))
t0 = time.time()
r = agg_view_sync(spark, table, ap, group_col="source", value_col="val")
out["clustered_agg_s"] = round(time.time() - t0, 3)
out["clustered_agg_action"] = r["action"]
out["clustered_agg_recomputed_groups"] = r["recomputed_groups"]
t0 = time.time()
r = distinct_view_sync(spark, table, dp, group_col="source", value_col="val")
out["clustered_dist_s"] = round(time.time() - t0, 3)
out["clustered_dist_changed_parts"] = r["changed_parts"]

# ---- phase 3: CLUSTERED insert-only batch — the agg view's scan-free path
# (new keys engineered to hash into bucket 0: no recompute, one bucket read)
new_ids = (
    # ids far above the table's range — TRUE inserts at any n_rows
    spark.range(900_400_000, 900_800_000)
    .select(F.format_string("doc_%09d", F.col("id")).alias("doc_id"))
    .filter(F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)) == 0)
    .limit(100).collect()
)
ins = [(3000 + i, "I", row["doc_id"], [1], 1, f"g{i % 10:04d}", 777)
       for i, row in enumerate(new_ids)]
v0 = table.current_version()
apply_batch(spark, table, spark.createDataFrame(ins, EV), 2, compact=False)
out["insert_changed_buckets"] = len(
    table.changed_buckets(v0, table.current_version()))
t0 = time.time()
r = agg_view_sync(spark, table, ap, group_col="source", value_col="val")
out["insert_agg_s"] = round(time.time() - t0, 3)
out["insert_agg_recomputed_groups"] = r["recomputed_groups"]  # expect 0
t0 = time.time()
r = distinct_view_sync(spark, table, dp, group_col="source", value_col="val")
out["insert_dist_s"] = round(time.time() - t0, 3)
out["insert_dist_changed_parts"] = r["changed_parts"]

# ---- phase 4: LOST-EXTREMUM batch — delete the stored max row of 10 groups
# (phase 1 gave g0010..g0019 one unique max each, 999_999): every touched
# group loses its stored max, so the agg sync recomputes all 10 extrema
v0 = table.current_version()
lost = [(4000 + i, "D", f"doc_{900_000_000 + i:09d}", None, None, None, None)
        for i in range(10, 20)]
apply_batch(spark, table, spark.createDataFrame(lost, EV), 3, compact=False)
out["lostmax_changed_buckets"] = len(
    table.changed_buckets(v0, table.current_version()))
t0 = time.time()
r = agg_view_sync(spark, table, ap, group_col="source", value_col="val")
out["lostmax_agg_s"] = round(time.time() - t0, 3)
out["lostmax_agg_action"] = r["action"]
out["lostmax_agg_recomputed_groups"] = r["recomputed_groups"]  # expect 10
t0 = time.time()
distinct_view_sync(spark, table, dp, group_col="source", value_col="val")
out["lostmax_dist_s"] = round(time.time() - t0, 3)

# correctness at this scale: both views == full recompute after all phases
full = {
    tuple(x) for x in table.read(spark).groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("val").cast("decimal(18,4)")).cast("double").alias("s"),
        F.min("val").alias("mn"), F.max("val").alias("mx"),
    ).collect()
}
got = {
    tuple(x) for x in agg_view_read(spark, ap).select(
        "source", "n_rows", F.col("sum_val").cast("double"),
        "min_val", "max_val").collect()
}
assert got == full, "agg view drifted from full recompute"
fulld = {
    tuple(x) for x in table.read(spark).groupBy("source").agg(
        F.count_distinct("val").alias("nd")).collect()
}
gotd = {tuple(x) for x in distinct_view_read(spark, dp).collect()}
assert gotd == fulld, "distinct view drifted from full recompute"
out["views_exact"] = True
out["clustered_dist_speedup_vs_rebuild"] = round(
    out["dist_rebuild_s"] / out["clustered_dist_s"], 2)
out["insert_agg_speedup_vs_rebuild"] = round(
    out["agg_rebuild_s"] / out["insert_agg_s"], 2)

print(json.dumps(out))
shutil.rmtree(root, ignore_errors=True)

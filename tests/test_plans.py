"""Plan-shape tests: pushdown, pruning, broadcast, partial agg, no row-Python
(SURVEY.md §4.2 — verify Catalyst actually delivers what the design assumes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from recidiviz_data_spark.cdc.apply import create_empty_table
from recidiviz_data_spark.operators.relational import (
    a1_pricing_summary,
    j3_dim_join_revenue,
    load,
)
from recidiviz_data_spark.plans.checks import (
    assert_broadcast_join,
    assert_column_pruned,
    assert_no_row_python,
    assert_partial_aggregation,
    assert_partition_filter,
    assert_pushed_filter,
    plan_string,
)

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_scan(spark):
    df = load(spark, SF, "lineitem").filter(F.col("l_suppkey") <= 20).select(
        "l_suppkey", "l_quantity"
    )
    assert_pushed_filter(df, "l_suppkey")
    assert_column_pruned(df, ["l_extendedprice", "l_comment", "l_orderkey"])


def test_partition_pruning_on_changelog_batch(spark, changelog_plain):
    d, _ = changelog_plain
    df = spark.read.parquet(d).filter(F.col("batch_id") == 2)
    assert_partition_filter(df, "batch_id")


def test_dim_joins_broadcast(spark):
    df = j3_dim_join_revenue(spark, SF)
    assert_broadcast_join(df)
    assert_no_row_python(df)


def test_agg_has_partial_phase(spark):
    df = a1_pricing_summary(spark, SF)
    assert_partial_aggregation(df)
    assert_no_row_python(df)


def test_lww_agg_dedup_has_map_side_combine(spark, changelog_plain):
    """The headline scale property: the agg dedup strategy must show a
    partial (map-side) aggregation phase before the shuffle, so hot keys are
    collapsed per-partition instead of concentrating on one reducer."""
    from recidiviz_data_spark.cdc.apply import _validity, dedup_lww
    from recidiviz_data_spark.sources.changelog import read_range

    d, _ = changelog_plain
    log = read_range(spark, d).withColumn(
        "_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int")
    )
    log = log.withColumn("_valid", _validity(log))
    winners = dedup_lww(log, ["tokens", "n_tok", "source", "lang"], strategy="agg")
    plan = plan_string(winners, mode="simple")
    # array-typed agg buffers use SortAggregate, but the partial (map-side)
    # phase must still exist BEFORE the exchange — that's the skew absorber
    assert "partial_max" in plan, plan
    assert plan.index("partial_max") > plan.index("Exchange"), (
        "partial agg must be below (before) the shuffle:\n" + plan
    )
    assert_no_row_python(winners)


def test_merge_target_read_prunes_columns(spark, tmp_path):
    """The decision pass must read ONLY (doc_id, _seq) from the target."""
    from pyspark.sql import types as T

    from tests.test_replay import V1_PAYLOAD

    table = create_empty_table(str(tmp_path / "t"), V1_PAYLOAD, num_buckets=4)
    # put some data in so the read has a real parquet scan
    from recidiviz_data_spark.cdc.apply import apply_batch
    from recidiviz_data_spark.sources.changelog import read_batch
    from recidiviz_data_spark.gen import gen_changelog

    cl = str(tmp_path / "cl")
    gen_changelog(cl, n_docs=100, n_events=500, n_batches=1)
    apply_batch(spark, table, read_batch(spark, cl, 0), 0)

    target_min = table.read(spark, include_internal=True).select("doc_id", "_seq")
    assert_column_pruned(target_min, ["tokens", "n_tok", "source"])


def test_bucketed_join_avoids_shuffle(spark):
    """Bucketing (SURVEY §4.2 / guide): two tables bucketed by the join key
    co-locate — the join plan has NO Exchange on either side."""
    import shutil

    o = load(spark, SF, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)  # stale dir from a dead session
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    # hint MERGE so tiny sf0.01 tables don't just broadcast — the point is
    # that a sort-merge join over bucketed tables needs NO Exchange
    j = spark.table("b_lineitem").hint("merge").join(
        spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    plan = plan_string(j, mode="simple")
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan, plan
    below_join = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in below_join, plan


def test_normalizer_is_codegen_not_python(spark, changelog_plain):
    from recidiviz_data_spark.functions.tokens import normalize_tokens_native
    from recidiviz_data_spark.sources.changelog import read_range

    d, _ = changelog_plain
    df = normalize_tokens_native(read_range(spark, d))
    assert_no_row_python(df)
    plan = plan_string(df, mode="formatted")
    # Spark 4 formatted plans mark whole-stage codegen spans as `* ` nodes
    # with a `[codegen id : N]` tag
    assert "codegen id" in plan, plan


def test_subword_bpe_is_arrow_not_row_python(spark):
    """The merge-table BPE encoder must ride Arrow batches (ArrowEvalPython),
    never the row-at-a-time Python path."""
    from recidiviz_data_spark.operators.textops import x_subword_bpe

    df = x_subword_bpe(spark, SF)
    plan = plan_string(df)
    assert "ArrowEvalPython" in plan, plan
    assert_no_row_python(df)


def test_df_cap_hot_list_is_broadcast_anti_join(spark):
    """The hot-shingle cap must remove hot shingles with a BROADCAST left
    anti join (the hot list is provably tiny) — if it ever degrades to a
    shuffled join, the corpus-side rows pay a full exchange just for the cap."""
    from recidiviz_data_spark.operators.dedup import _shingles_capped_hashed

    df = _shingles_capped_hashed(spark, SF)
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert_no_row_python(df)


def test_tfidf_df_join_broadcasts_count_side(spark):
    """x_tfidf_topterms: the single-row N aggregate must broadcast."""
    from recidiviz_data_spark.operators.textops import x_tfidf_topterms

    df = x_tfidf_topterms(spark, SF)
    assert_broadcast_join(df)
    assert_no_row_python(df)


def test_span_dedup_plan_is_linear(spark):
    """x_span_dedup must stay a window-over-hash plan: no cartesian product,
    no row-Python — the linear substring-dedup scale shape."""
    from recidiviz_data_spark.operators.dedup import x_span_dedup

    df = x_span_dedup(spark, SF)
    p = plan_string(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert_no_row_python(df)


def test_corpus_pipeline_plan(spark):
    """The composed corpus-prep op fuses into one Catalyst plan: partial
    aggregation below the shuffles, broadcast for the bucket-offset table,
    no cartesian, no row-Python."""
    from recidiviz_data_spark.operators.pipeline import x_corpus_pipeline

    df = x_corpus_pipeline(spark, SF)
    p = plan_string(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert_partial_aggregation(df)
    assert_broadcast_join(df)
    assert_no_row_python(df)


def test_token_scrub_pack_plan_is_linear(spark):
    """x_token_scrub_pack (tokenize -> span mask -> cut -> pack) must keep
    the linear shape end-to-end: no cartesian product, no row-Python, and
    the bucket-offset table broadcasts into the doc-level stream."""
    from recidiviz_data_spark.operators.pipeline import x_token_scrub_pack

    df = x_token_scrub_pack(spark, SF)
    p = plan_string(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert_broadcast_join(df)
    assert_no_row_python(df)


def test_ivf_index_search_plan(spark):
    """Searching the materialized IVF index partition-prunes on the probed
    cells and never falls back to row-Python or a cartesian scan."""
    from recidiviz_data_spark.operators.similarity import (
        _scaled,
        ivf_index_build,
        ivf_index_search,
    )

    path = ivf_index_build(spark, SF)
    q = _scaled(spark, SF).filter("vec_id < 10")
    df = ivf_index_search(spark, path, q, k=3, nprobe=1)
    assert_partition_filter(df, "cell")
    p = plan_string(df)
    assert "CartesianProduct" not in p
    assert_no_row_python(df)

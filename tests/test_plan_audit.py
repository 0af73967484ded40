"""Physical-plan audits: the scale properties the queries claim must be
visible in `.explain` output — filter pushdown into the parquet scan, column
pruning, broadcast joins for small dims, TakeOrderedAndProject for top-k,
whole-stage codegen in the hot paths (§4 of SURVEY.md)."""

from __future__ import annotations

from sqlserver2pgsql_spark import queries as Q
from sqlserver2pgsql_spark import queries_llm as QL
from sqlserver2pgsql_spark.measure import plan_text
from sqlserver2pgsql_spark.session import scoped_conf
from tests.conftest import SF_DIR


def test_q01_filter_pushdown_and_pruning(spark):
    plan = plan_text(Q.q01_pricing_summary(spark, SF_DIR))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_quantity" in read_schema
    assert "l_orderkey" not in read_schema  # pruned — not referenced
    # hot path stays JVM-side: no Python row evaluation anywhere in the plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q02_broadcasts_small_dims(spark):
    plan = plan_text(Q.q02_segment_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_q04_semi_join_strategy(spark):
    plan = plan_text(Q.q04_orders_with_big_lineitems_semi(spark, SF_DIR))
    assert "LeftSemi" in plan
    # quantity filter pushed into the lineitem scan
    assert "l_quantity" in plan.split("PushedFilters")[1][:300]


def test_q11_topk_is_take_ordered(spark):
    plan = plan_text(Q.q11_topk_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT k


def test_q06_diff_single_join_no_presort(spark):
    plan = plan_text(Q.q06_incremental_diff(spark, SF_DIR))
    # one full-outer join; no Kettle-style pre-sort operators feeding it
    assert plan.count("SortMergeJoin FullOuter") + plan.count("ShuffledHashJoin FullOuter") == 1


def test_q14_fk_validation_broadcast_anti(spark):
    plan = plan_text(Q.q14_fk_validation(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q21_ann_broadcasts_queries(spark):
    plan = plan_text(QL.q21_ann_bruteforce_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan  # corpus must not shuffle


def test_bucketed_join_avoids_shuffle(spark, tmp_path_factory):
    """Bucketing (§4 physical techniques): two tables bucketed on the join
    key co-locate — the join plan has no shuffle Exchange on either side."""
    from pyspark.sql import functions as F

    from sqlserver2pgsql_spark.sources.tables import load_table

    import shutil

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    # in-memory catalog: DROP can't see tables from prior processes, but the
    # warehouse files persist — clear them so saveAsTable doesn't collide
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_lineitem", "b_orders"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")

    # at this size AQE rightly prefers broadcast (which disables bucket use);
    # force the sort-merge path to observe bucket co-location
    try:
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = spark.table("b_lineitem").join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = plan_text(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan, plan  # no shuffle: co-located buckets
            assert "Bucketed: true" in plan
            assert joined.count() == li.count()
    finally:
        spark.sql("DROP TABLE b_lineitem")
        spark.sql("DROP TABLE b_orders")


def test_source_cap_uses_window_group_limit(spark):
    """stratified_cap's row_number<=k filter must compile to WindowGroupLimit
    (partial per-partition top-k before the shuffle) — the property that
    keeps a heavy-hitter source from shipping its whole group."""
    from sqlserver2pgsql_spark.operators.curation import stratified_cap
    from sqlserver2pgsql_spark.sources.tables import load_table

    d = load_table(spark, SF_DIR, "documents").select("source", "doc_id")
    plan = plan_text(stratified_cap(d, "source", "doc_id", cap=10))
    assert "WindowGroupLimit" in plan, plan


def test_q53_tfidf_window_group_limit_no_python(spark):
    """tf-idf top-k must compile the rnk<=k filter to WindowGroupLimit and
    stay entirely JVM-side."""
    plan = plan_text(QL.q53_tfidf_top_terms(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q54_sample_is_shuffle_free(spark):
    """Deterministic stratified sampling is a pure filter: no Exchange
    anywhere in the plan (the orderBy in the registered query is the
    driver-compare convenience, so audit the operator directly)."""
    from pyspark.sql import functions as F

    from sqlserver2pgsql_spark.operators.curation import stratified_sample
    from sqlserver2pgsql_spark.sources.tables import load_table

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    plan = plan_text(stratified_sample(d, "source", "doc_id", F.lit(50)))
    assert "Exchange" not in plan, plan


def test_q56_decontamination_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast — the training side never
    shuffles for the join."""
    plan = plan_text(QL.q56_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_q60_rollup_broadcasts_grid(spark):
    """Gap-fill broadcasts the bounded agg side (BuildRight of the left-outer
    join — the preserved left side can't broadcast); the only full-data
    exchange is the rollup aggregation's."""
    plan = plan_text(QL.q60_hypertable_rollup(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "BuildRight" in plan, plan

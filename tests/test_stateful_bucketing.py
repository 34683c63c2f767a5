"""Bucketed co-located join test."""

from __future__ import annotations


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from clearcare_data_pipeline_spark.sources.bucketing import colocated_join, write_bucketed
    from clearcare_data_pipeline_spark.sources.tables import load_table

    # warehouse.dir is a static conf; use the session default warehouse
    # (gitignored ./spark-warehouse) with throwaway table names. The
    # metastore is per-session, so also clear any stale table dirs
    # left by previous processes.
    import shutil

    sf = "/root/testdata/sf0.001"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(orders, "b_orders", ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])
    write_bucketed(li, "b_lineitem", ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])

    # at fixture scale the planner prefers broadcasting the tiny side;
    # disable it so the plan shows the bucketed fact-fact strategy that
    # matters at 100 TB (where neither side is broadcastable)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: the join runs with no shuffle on either side
        assert "Exchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan
        assert joined.count() == 6000

        # contrast: the same join on plain parquet shuffles both sides
        plain = load_table(spark, sf, "orders").join(
            load_table(spark, sf, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
            ["o_orderkey"],
        )
        assert "Exchange" in plain._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

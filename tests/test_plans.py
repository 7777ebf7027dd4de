"""Physical-plan regression tests: the scale properties SURVEY.md §4
demands are asserted on the actual executed plans, so a refactor that
silently drops a pushdown, a broadcast, or partial aggregation fails
CI — not a 100 TB run.
"""

from __future__ import annotations

from etl_inreach_spark.queries import all_queries


def plan_of(spark, sf_dir, name: str) -> str:
    df = all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_pricing_summary_pushdown_pruning_partial_agg(spark, sf_dir):
    plan = formatted_plan(spark, sf_dir, "pricing_summary")
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns are read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema
    # partial + final aggregation around one exchange (the formatted
    # output lists every node twice: tree + detail section)
    tree = plan.split("\n\n")[0]
    assert tree.count("HashAggregate") == 2 and tree.count("Exchange") == 1


def test_broadcast_config_join_is_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "broadcast_config_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shipping_priority_uses_topk_operator(spark, sf_dir):
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    # top-k then merge), never a global sort
    plan = plan_of(spark, sf_dir, "shipping_priority_top10")
    assert "TakeOrderedAndProject" in plan


def test_latest_per_key_single_shuffle(spark, sf_dir):
    # argmax dedup = partial agg -> ONE exchange on the key -> final agg
    plan = plan_of(spark, sf_dir, "latest_per_key")
    assert plan.count("Exchange") == 1


def test_semi_join_plans_as_semi(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "semi_join_active_customers")
    assert "LeftSemi" in plan


def test_time_window_filter_scalar_anchor_broadcast(spark, sf_dir):
    # the max(ts) anchor is a 1-row broadcast, not a shuffle join
    plan = plan_of(spark, sf_dir, "time_window_filter")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

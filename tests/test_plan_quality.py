"""Positive plan-shape assertions for representative queries — the
complement of test_plan_audit's blacklist. These pin the PROPERTIES
the scale story rests on (shuffle counts, broadcast choices, top-k
pushdown), so a refactor that silently degrades a plan fails a test
rather than a benchmark."""

from __future__ import annotations

from etl_inreach_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = all_queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_window_zoo_single_shuffle(spark):
    """Eleven window functions over one (partition, ordering) must
    plan ONE shuffle — per-function exchanges would multiply the
    dominant cost by eleven."""
    plan = _plan(spark, "window_function_zoo")
    assert plan.count("Exchange hashpartitioning") == 1


def test_scd2_single_shuffle(spark):
    """lag -> running sum -> groupBy(user_id, state_seq) -> lead all
    share (or subset-satisfy) the user_id hash partitioning: one
    exchange total. HashPartitioning(user_id) satisfies the
    ClusteredDistribution(user_id, state_seq) of the aggregation, so
    EnsureRequirements must not insert a second shuffle."""
    plan = _plan(spark, "scd2_user_state")
    assert plan.count("Exchange hashpartitioning") == 1


def test_tpch_q5_broadcasts_dimensions(spark):
    """supplier/nation/region are broadcast; the only shuffle joins
    allowed are the big-big lineitem x orders and orders x customer."""
    plan = _plan(spark, "tpch_q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 2


def test_cdc_latest_state_rank_pushdown(spark):
    """The rn==1 filter must reach the window sort as a group-limit
    (WindowGroupLimit): at scale this keeps one row per key flowing
    out of each sort partition instead of ranking everything and
    discarding."""
    plan = _plan(spark, "cdc_latest_state")
    assert "WindowGroupLimit" in plan


def test_segment_dedup_two_shuffles(spark):
    """Keep-first argmin shuffles on segment content, rebuild shuffles
    on doc_id — and nothing else."""
    plan = _plan(spark, "segment_dedup_rebuild")
    assert plan.count("Exchange hashpartitioning") == 2


def test_stratified_sample_no_shuffle(spark):
    """Deterministic rate sampling is a pure per-row predicate: the
    plan must contain NO exchange at all."""
    plan = _plan(spark, "stratified_sample_documents")
    assert "Exchange" not in plan


def test_q21_decorrelation_stays_equi_join(spark):
    """The EXISTS/NOT-EXISTS rendering must plan as semi/anti
    EQUI-joins on l_orderkey (the inequality as a join residual) —
    never a BroadcastNestedLoopJoin, which would be |lineitem|^2 at
    scale."""
    plan = _plan(spark, "tpch_q21_last_shipper")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q18_having_precedes_joins(spark):
    """The quantity-threshold filter must apply to the aggregate
    BEFORE either join: the join inputs carry only qualifying orders.
    In the executed plan the Filter sits on the agg side, not above
    any join."""
    plan = _plan(spark, "tpch_q18_large_orders")
    join_pos = min(
        (plan.find(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
         if plan.find(j) != -1),
        default=-1,
    )
    filt_pos = plan.find("Filter (isnotnull(_q")
    if filt_pos == -1:
        filt_pos = plan.find("Filter (_q")
    assert join_pos != -1 and filt_pos != -1
    # executedPlan prints top-down: the HAVING filter printing BELOW
    # (after) the first join node means it executes before the join
    assert filt_pos > join_pos


def test_bm25_stats_broadcast(spark):
    """The 1-row corpus stats must broadcast — a shuffled cross join
    against per-term postings would serialize the whole relation
    through one partition."""
    plan = _plan(spark, "bm25_term_search")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_curation_pipeline_single_shuffle(spark):
    """quality gate -> dedup -> split must cost ONE hash exchange (the
    fingerprint groupBy); the survivor join-back broadcasts at this
    size (AQE would shuffle it only when the survivor set outgrows the
    threshold) and the split is a pure projection."""
    plan = _plan(spark, "corpus_curation_pipeline")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_q6_full_pushdown_no_join_shuffle(spark):
    """Q6 is one scan + partial agg: every predicate reaches the
    parquet reader and the ReadSchema carries only the four columns
    the query touches — no join, no hash-partition exchange."""
    df = all_queries()["tpch_q6_forecast_revenue"](spark, SF_DIR)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    full = qe.explainString(mode)  # toString truncates long filter lists
    for f in ("GreaterThanOrEqual(l_discount", "LessThan(l_quantity", "LessThan(l_shipdate"):
        assert f in full, f"predicate {f} not pushed"
    assert "l_orderkey" not in full  # column pruning
    assert qe.executedPlan().toString().count("Exchange hashpartitioning") == 0


def test_q19_disjunction_pushes_to_both_scans(spark):
    """Catalyst must extract per-side unions of the OR: the part scan
    gets the brand/size disjunction, the lineitem scan the quantity
    disjunction — neither side scans unfiltered, and the join stays a
    single broadcast equi-join (no union-of-three-joins rewrite)."""
    plan = _plan(spark, "tpch_q19_disjunctive_filter")
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln or "FileScan parquet" in ln]
    part_scan = next(s for s in scans if "part.parquet" in s)
    li_scan = next(s for s in scans if "lineitem.parquet" in s)
    assert "p_brand" in part_scan and "Or(" in part_scan
    assert "l_quantity" in li_scan and "Or(" in li_scan
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 0


def test_q15_scalar_max_broadcasts(spark):
    """The revenue relation is pinned (localCheckpoint) and consumed
    twice — max side and filter side — so the plan must contain NO
    second lineitem scan, and the max joins back as a broadcast."""
    plan = _plan(spark, "tpch_q15_top_supplier")
    assert plan.count("lineitem.parquet") == 0  # checkpointed, not rescanned
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join_prunes_orders_scan(spark):
    """NOT EXISTS renders as LEFT ANTI, and the o_orderdate >= bound
    pushes into the orders scan so the anti side shrinks pre-shuffle."""
    plan = _plan(spark, "tpch_q22_sales_opportunity")
    assert "LeftAnti" in plan
    orders_scan = next(
        ln for ln in plan.splitlines()
        if ("Scan parquet" in ln or "FileScan parquet" in ln) and "orders.parquet" in ln
    )
    assert "GreaterThanOrEqual(o_orderdate" in orders_scan


def test_global_row_index_no_full_relation_global_window(spark):
    """The only unpartitioned window runs over the <=B-row bucket
    relation; every row-stream window is partitioned by _bucket."""
    plan = _plan(spark, "global_row_index_orders")
    assert "windowspecdefinition(_bucket" in plan


def test_heavy_hitters_candidates_broadcast(spark):
    """The exact rescore joins the tiny candidate set by BROADCAST —
    the document relation must never shuffle for the join."""
    plan = _plan(spark, "heavy_hitters_lang")
    assert "BroadcastHashJoin" in plan


def test_rankselect_family_prunes_columns(spark):
    """The quantile/KS/AUC family touches 1-2 orders columns; the
    parquet ReadSchema must carry ONLY those (a scan reading
    o_comment-sized payloads for a quantile would multiply 100 TB
    scan cost for nothing)."""
    allowed = {
        "exact_quantile_rankselect": {"o_totalprice"},
        "revenue_weighted_quantile": {"o_totalprice"},
        "grouped_quantile_rankselect": {"o_totalprice", "o_orderpriority"},
        "ks_drift_orders": {"o_totalprice", "o_orderstatus"},
        "auc_price_status": {"o_totalprice", "o_orderstatus"},
        "benford_first_digit_orders": {"o_totalprice"},
    }
    all_cols = {
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    }
    for name, keep in allowed.items():
        df = all_queries()[name](spark, SF_DIR)
        qe = df._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        full = qe.explainString(mode)
        read_schemas = [
            ln for ln in full.splitlines() if "ReadSchema" in ln
        ]
        assert read_schemas, name
        for ln in read_schemas:
            for col in all_cols - keep:
                assert col not in ln, (name, col, ln)


def test_nb_quality_model_joins_broadcast(spark):
    """The NB scoring join (token occurrences x vocab-sized model)
    and the 1-row totals/prior joins must all be broadcast — the
    corpus-sized token stream never shuffles for a join (its only
    shuffles are the term-count and per-doc partial aggregations)."""
    plan = _plan(spark, "nb_quality_train_score")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 0


def test_ivf_pq_adc_join_broadcast(spark):
    """ADC search joins the exploded corpus codes against the
    per-query distance TABLE by broadcast on (cell, sub, code); no
    sort-merge join may appear anywhere in the build+search plan."""
    plan = _plan(spark, "ivf_pq_adc_topk")
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 0


def test_ewma_windows_are_block_bounded(spark):
    """The blocked EWMA rendering must never run an unpartitioned
    data-sized window: every Window/Sort partitions by user (row
    numbering) or (user, blk) (the in-block prefix). A SinglePartition
    exchange may only feed nothing here at all."""
    plan = _plan(spark, "ewma_user_daily")
    assert "Exchange SinglePartition" not in plan

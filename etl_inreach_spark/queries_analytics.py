"""Warehouse-analytics queries: SCD2 history building, time-series
resample + gap-fill, table profiling, a TPC-H Q5-shaped multi-join,
correlated-subquery decorrelation, window-function and VARIANT
surfaces, CDC compaction, cogrouped-pandas as-of matching, and the
streaming joins (stream-stream windowed, stream-static enrich) — each
value-oracled against DuckDB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.queries import query


# SCD2 interval derivation, shared VERBATIM by the scd2_user_state
# oracle and the scd2_point_in_time_join oracle (which must join
# against the exact same intervals its Spark side gets from CALLING
# scd2_user_state — a drifting copy would mis-flag the join as red
# when only the derivation changed).
_SCD2_INTERVALS_SQL = """
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w != event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, event_type, ts,
               CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS state_seq
        FROM e
    ), g AS (
        SELECT user_id, state_seq,
               min(event_type) AS state,
               min(ts) AS valid_from,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, state_seq
    ), iv AS (
        SELECT user_id, state_seq, state, valid_from,
               lead(valid_from) OVER w2 AS valid_to,
               n_events
        FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY state_seq)
    )
"""


@query(
    "scd2_user_state",
    oracle=_SCD2_INTERVALS_SQL
    + """
    SELECT user_id, state_seq, state, valid_from, valid_to,
           valid_to IS NULL AS is_current, n_events
    FROM iv
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from an event
    log: collapse each user's consecutive same-type event runs into
    [valid_from, valid_to) intervals with an is_current flag — the
    classic gaps-and-islands chain (lag -> running sum -> group ->
    lead). Every window and the aggregation share the user_id
    partitioning, so the whole plan is ONE shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w1)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    seq = (
        F.sum(chg)
        .over(w1.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
    )
    g = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("state_seq", seq)
        .groupBy("user_id", "state_seq")
        .agg(
            F.min("event_type").alias("state"),
            F.min("ts").alias("valid_from"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("state_seq")
    valid_to = F.lead("valid_from").over(w2)
    return g.select(
        "user_id",
        "state_seq",
        "state",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "n_events",
    )


@query(
    "resample_gapfill_events",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', max(ts)) AS h1 FROM events
    ), u AS (
        SELECT user_id, date_trunc('hour', min(ts)) AS h0
        FROM events GROUP BY user_id
    ), spine AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM u, b
    ), hr AS (
        SELECT user_id, date_trunc('hour', ts) AS hour, value,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ), obs AS (
        SELECT user_id, hour, value FROM hr WHERE rn = 1
    )
    SELECT s.user_id, s.hour,
           last_value(o.value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           o.value IS NOT NULL AS observed
    FROM spine s LEFT JOIN obs o
      ON s.user_id = o.user_id AND s.hour = o.hour
    """,
)
def resample_gapfill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: per-user hourly grid from each user's
    FIRST observation to the global horizon, carrying the last
    observed value forward through empty hours (LOCF). The spine
    starts at each user's own first hour — a |users| x full-history
    grid would manufacture rows for users before they exist, and at
    cluster scale (1e9 users x 1e5 hours) that dominates the output
    for no information. Spine = per-user bounds (one groupBy) x a
    broadcast 1-row global horizon, exploded JVM-side; the gap-fill
    is last(ignorenulls) over the user partition, sharing the join's
    user_id shuffle. Values are carried, never summed, so no decimal
    discipline is needed."""
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.date_trunc("hour", F.max("ts")).alias("h1"))
    spine = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("hour", F.min("ts")).alias("h0"))
        .join(F.broadcast(horizon))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    hr_w = Window.partitionBy("user_id", F.date_trunc("hour", F.col("ts"))).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    obs = (
        ev.select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "value",
            F.row_number().over(hr_w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    locf_w = Window.partitionBy("user_id").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = spine.join(obs, ["user_id", "hour"], "left")
    return joined.select(
        "user_id",
        "hour",
        F.last("value", ignorenulls=True).over(locf_w).alias("value"),
        F.col("value").isNotNull().alias("observed"),
    )


# Per-column renderings that are portable across Spark and DuckDB:
# integers via plain VARCHAR cast, doubles via an exact DECIMAL(18,2)
# hop (both engines render full scale), timestamps via epoch
# microseconds (string rendering of fractional seconds differs).
_PROFILE_COLS: tuple[tuple[str, str], ...] = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
)


def _profile_oracle() -> str:
    parts = []
    for c, t in _PROFILE_COLS:
        if t == "double":
            mn, mx = (
                f"CAST(CAST(min({c}) AS DECIMAL(18,2)) AS VARCHAR)",
                f"CAST(CAST(max({c}) AS DECIMAL(18,2)) AS VARCHAR)",
            )
        elif t == "timestamp":
            mn, mx = (
                f"CAST(epoch_us(min({c})) AS VARCHAR)",
                f"CAST(epoch_us(max({c})) AS VARCHAR)",
            )
        else:
            mn, mx = f"CAST(min({c}) AS VARCHAR)", f"CAST(max({c}) AS VARCHAR)"
        parts.append(
            f"""SELECT '{c}' AS col_name,
                   CAST(count(*) - count({c}) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                   {mn} AS min_repr, {mx} AS max_repr
            FROM orders"""
        )
    return " UNION ALL ".join(parts)


@query("data_profile_orders", oracle=_profile_oracle())
def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table profiling: per-column null count, exact
    distinct count, and portable min/max renderings for the orders
    table, unpivoted to one row per column.

    TWO single-row aggregation passes, crossJoin'd, then stack()ed —
    deliberately NOT one combined agg (r11 optimization): mixing the
    multi-count_distinct rewrite (Expand x7 + re-aggregation GROUPED
    BY every profiled column) with min/max over string/timestamp
    columns puts immutable-typed agg buffers under a GROUPED
    aggregation, which disqualifies HashAggregate — Spark planned
    SortAggregate and paid two full sorts of the 7x-expanded,
    26-column-wide relation (the r11-before plan; 4.1 s at sf0.1).
    Split, the distinct-count pass keeps only long buffers (counts)
    so the Expand path stays HashAggregate end to end, and the
    min/max/null pass is a plain scan-wide agg with no Expand and no
    grouping (global agg needs no sort regardless of buffer type).
    Both passes produce ONE row, so the crossJoin is a 1x1 product.
    At 100 TB the same split holds: the Expand multiplies shuffle
    volume by the column count (swap exact count_distinct for
    approx_count_distinct there — a profiler does not need the value
    gate's exactness), and hash vs sort aggregation over that 7x
    relation is exactly the difference measured here."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    dist_aggs = []
    for c, t in _PROFILE_COLS:
        col = F.col(c)
        if t == "double":
            mn = F.min(col).cast("decimal(18,2)").cast("string")
            mx = F.max(col).cast("decimal(18,2)").cast("string")
        elif t == "timestamp":
            mn = F.unix_micros(F.min(col)).cast("string")
            mx = F.unix_micros(F.max(col)).cast("string")
        else:
            mn = F.min(col).cast("string")
            mx = F.max(col).cast("string")
        dist_aggs.append(F.count_distinct(col).alias(f"dist_{c}"))
        aggs += [
            (F.count(F.lit(1)) - F.count(col)).alias(f"null_{c}"),
            mn.alias(f"min_{c}"),
            mx.alias(f"max_{c}"),
        ]
    wide = o.agg(*aggs).crossJoin(o.agg(*dist_aggs))
    stack_args = ", ".join(
        f"'{c}', null_{c}, dist_{c}, min_{c}, max_{c}" for c, _ in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) "
        "AS (col_name, n_null, n_distinct, min_repr, max_repr)"
    )


@query(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n_name,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4)) *
                    (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(18,6))
                AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the supplier and the
    customer share a nation, restricted to one region and one order
    year. Join-strategy story: nation/region/supplier broadcast (tiny
    dims), orders arrives pre-filtered by the pushed-down date range,
    and the only big-big shuffle is lineitem x orders on l_orderkey.
    The c_nationkey = s_nationkey equality joins customer BEFORE
    aggregation — the classic case Catalyst cannot reorder away, so
    the plan is written in the efficient order by hand."""
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    price_d = F.col("l_extendedprice").cast("decimal(14,4)")
    disc_d = F.col("l_discount").cast("decimal(6,4)")
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            cu,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        F.sum(price_d * (F.lit(1) - disc_d))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("revenue")
    )


@query(
    "orders_above_cust_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE CAST(round(o_totalprice * 100) AS BIGINT) *
          (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          >
          (SELECT SUM(CAST(round(o2.o_totalprice * 100) AS BIGINT))
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries (SQL surface): orders strictly
    above their customer's average order value, written with two
    correlated subqueries that Catalyst decorrelates into one
    aggregate + join — no per-row re-execution. The comparison is
    price*count > sum in integer cents, so the boundary is exact in
    both engines (a decimal AVG would round differently: DuckDB's AVG
    returns DOUBLE, Spark's returns DECIMAL)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("analytics_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM analytics_orders o
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) *
              (SELECT COUNT(*) FROM analytics_orders o2
               WHERE o2.o_custkey = o.o_custkey)
              >
              (SELECT SUM(CAST(round(o2.o_totalprice * 100) AS BIGINT))
               FROM analytics_orders o2 WHERE o2.o_custkey = o.o_custkey)
        """
    )


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: click and purchase
    streams joined per user with an event-time range (purchase within
    1 hour after the click). Both sides carry 1-hour watermarks plus
    the time-range join condition, which is what lets Spark bound the
    join state and evict old rows — the canonical scale pattern for
    stream-stream joins. Drained with availableNow into a memory
    sink; each side is written as a single file so the drain is one
    micro-batch and the batch answer is exact."""
    import shutil
    import uuid

    ev = load_table(spark, sf_dir, "events")
    run = uuid.uuid4().hex[:12]
    base = f"/tmp/spark_graft_stream/{run}"
    try:
        for etype, sub in (("click", "clicks"), ("purchase", "purchases")):
            (
                ev.filter(F.col("event_type") == etype)
                .select("ts", "user_id", "event_id")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{base}/{sub}")
            )
        schema = "ts timestamp, user_id bigint, event_id bigint"
        clicks = (
            spark.readStream.schema(schema)
            .parquet(f"{base}/clicks")
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
        )
        purchases = (
            spark.readStream.schema(schema)
            .parquet(f"{base}/purchases")
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
        table = f"stream_join_{run}"
        q = (
            joined.writeStream.format("memory")
            .queryName(table)
            .outputMode("append")
            .option("checkpointLocation", f"{base}/cp")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # survive the finally-rmtree of the checkpoint dirs
        return spark.table(table).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "window_function_zoo",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           percent_rank() OVER w AS prnk,
           cume_dist() OVER w AS cdist,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           first_value(o_totalprice) OVER wf AS first_price,
           last_value(o_totalprice) OVER wf AS last_price,
           nth_value(o_totalprice, 2) OVER wf AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_function_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking/navigation window-function surface in one
    query: row_number/rank/dense_rank, percent_rank/cume_dist,
    lag/lead, and first/last/nth_value over an explicit unbounded
    frame. All eleven functions share ONE (partition, ordering), so
    the plan is a single shuffle + single sort — the multi-function-
    one-window pattern an engine must not split into per-function
    exchanges. Values are carried or ratio-of-counts doubles
    (deterministic IEEE division), no decimal discipline needed."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    price = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.lag(price).over(w).alias("prev_price"),
        F.lead(price).over(w).alias("next_price"),
        F.first(price).over(wf).alias("first_price"),
        F.last(price).over(wf).alias("last_price"),
        F.nth_value(price, 2).over(wf).alias("second_price"),
    )


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: a streaming event feed
    joined to a STATIC customer dimension (re-read per micro-batch in
    real deployments — the standard pattern for slowly-refreshed dims)
    then aggregated per (segment, event type) in complete mode. The
    static side is small, so the per-batch join is a broadcast hash
    join with no stream-side shuffle before the aggregation."""
    import shutil
    import uuid

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    run = uuid.uuid4().hex[:12]
    base = f"/tmp/spark_graft_stream/{run}"
    try:
        ev.select("ts", "user_id", "event_type", "value").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/in")
        sdf = spark.readStream.schema(
            "ts timestamp, user_id bigint, event_type string, value double"
        ).parquet(f"{base}/in")
        agg = (
            sdf.join(F.broadcast(cust), sdf["user_id"] == cust["c_custkey"])
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("total_value"),
            )
        )
        table = f"stream_enrich_{run}"
        q = (
            agg.writeStream.format("memory")
            .queryName(table)
            .outputMode("complete")
            .option("checkpointLocation", f"{base}/cp")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(table).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "cdc_latest_state",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, value AS last_value, ts AS last_ts
    FROM ranked
    WHERE rn = 1 AND event_type != 'error'
    """,
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: compact a change feed to current
    state. The event log is read as a CDC stream keyed by user_id
    (ts+event_id = commit order; 'error' = tombstone/delete): the
    latest change wins, and a key whose latest change is a tombstone
    is ABSENT from the snapshot — upsert-then-delete semantics, the
    read-side dual of the keyed-upsert MERGE sink (sinks/upsert.py).
    One shuffle: a per-key argmax window (the rank filter cuts to one
    row per key, WindowGroupLimit pushes it into the sort), then the
    tombstone filter on the surviving row — commit order
    (ts, event_id) DESC matches the oracle's tie-break exactly."""
    ev = load_table(spark, sf_dir, "events")
    ranked = ev.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        ),
    )
    return (
        ranked.filter((F.col("_rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )


@query(
    "rollup_time_revenue",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(grouping(year(o_orderdate)) AS INTEGER) AS g_year,
           CAST(grouping(month(o_orderdate)) AS INTEGER) AS g_month
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), month(o_orderdate))
    """,
)
def rollup_time_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup: revenue at (year, month), (year), and
    grand-total levels in ONE pass (GROUP BY ROLLUP expands inside the
    aggregation, no self-union of scans), with grouping() flags
    disambiguating real NULLs from subtotal rows. Decimal-exact sums
    so subtotals hash identically in both engines."""
    o = (
        load_table(spark, sf_dir, "orders")
        .withColumn("order_year", F.year("o_orderdate"))
        .withColumn("order_month", F.month("o_orderdate"))
    )
    return o.rollup("order_year", "order_month").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping("order_year").cast("integer").alias("g_year"),
        F.grouping("order_month").cast("integer").alias("g_month"),
    )


@query(
    "variant_props_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           'OBJECT<k: BIGINT>' AS variant_schema
    FROM events
    """,
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-type semi-structured surface (Spark 4): parse the JSON
    props column once into the binary VARIANT encoding, then typed
    field access via variant_get and runtime shape via
    schema_of_variant — the shred-on-read path that replaces repeated
    get_json_object string re-parsing (the VARIANT value parses each
    row once, every extraction after that is a binary field probe).
    The oracle extracts the same field with DuckDB's JSON functions;
    the (uniform, by construction) per-row schema string is asserted
    literally so a shape drift in the generator breaks the hash."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_id", F.parse_json("props").alias("_v"))
    return v.select(
        "event_id",
        F.variant_get("_v", "$.k", "bigint").alias("k"),
        F.schema_of_variant(F.col("_v")).alias("variant_schema"),
    )


@query(
    "cogroup_conversion_latency",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), lat AS (
        SELECT p.user_id, p.event_id,
               (epoch_us(p.ts) - MAX(epoch_us(c.ts))) / 1000000.0 AS latency_s
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id AND c.ts <= p.ts
        GROUP BY p.user_id, p.event_id, p.ts
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(latency_s) AS BIGINT) AS n_converted,
           median(latency_s) AS median_latency_s
    FROM lat GROUP BY user_id
    """,
)
def cogroup_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-pandas surface (groupBy().cogroup().applyInPandas —
    FlatMapCoGroupsInPandas): click and purchase streams co-partitioned
    and paired into one Python function, which as-of-matches every
    purchase to its most recent prior click (numpy searchsorted —
    O(n log n), no per-pair join) and reduces to per-user conversion
    latency stats.

    The cogroup KEY is a hash BUCKET of the user, not the user itself:
    FlatMapCoGroupsInPandas pays a pandas-DataFrame construction per
    group, so keying by user (~|users| tiny groups) spends more time
    in per-group overhead than in matching — measured 8.5 s -> ~1 s at
    sf0.1 with 256 buckets. Inside a bucket the users are processed
    from TWO lexsorts + boundary slices (numpy views, no per-user
    pandas objects) — the same bounded-bucket pattern as
    seq_pack_bins. At 100 TB buckets scale with the cluster, and each
    bucket's payload is |events|/256, not one user.

    The oracle states the same semantics relationally (greatest prior
    click per purchase via LEFT JOIN + MAX, then a median). Latencies
    are exact integer microseconds divided by 1e6 — same IEEE double
    on both engines; the median of doubles is the same order statistic
    in numpy and DuckDB (average of the middle two on even counts).

    Upstream pitfall (Spark 4.1, observed here): calling ``.count()``
    on a cogroup-applyInPandas result lets column pruning push into
    the cogroup children, so the pandas function receives batches
    MISSING its declared input columns (collect()/writes are fine —
    they require every output column). The function therefore probes
    ``in columns`` membership instead of assuming the schema, and a
    row count must go through an eager localCheckpoint first: a bare
    ``count()`` prunes the cogroup inputs and crashes the pandas
    function."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.pmod(F.col("user_id"), F.lit(256)).alias("bucket")
    clicks = ev.filter(F.col("event_type") == "click").select(
        bucket, "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        bucket, "user_id", "event_id", "ts"
    )

    def match(clicks_pdf: pd.DataFrame, purch_pdf: pd.DataFrame) -> pd.DataFrame:
        if purch_pdf.empty:
            return pd.DataFrame(
                columns=["user_id", "n_purchases", "n_converted", "median_latency_s"]
            )
        if "user_id" not in purch_pdf.columns or "ts" not in purch_pdf.columns:
            # count()-style evaluation pruned our declared inputs away
            # (see docstring) — fail with the diagnosis, not a KeyError
            raise RuntimeError(
                "cogroup input pruned to "
                f"{list(purch_pdf.columns)}: evaluate this query via "
                "collect()/write (or checkpoint before count()) — "
                "df.count() prunes cogroup-applyInPandas inputs"
            )
        p_user = purch_pdf["user_id"].to_numpy()
        p_us = purch_pdf["ts"].astype("int64").to_numpy() // 1000
        if clicks_pdf.empty or "user_id" not in clicks_pdf.columns:
            # a bucket with purchases but no clicks: Spark hands the
            # empty cogroup side over WITHOUT columns, so probe by
            # membership, not just .empty
            c_user = np.empty(0, dtype="int64")
            c_us = np.empty(0, dtype="int64")
        else:
            c_user = clicks_pdf["user_id"].to_numpy()
            c_us = clicks_pdf["ts"].astype("int64").to_numpy() // 1000
        po = np.lexsort((p_us, p_user))
        p_user, p_us = p_user[po], p_us[po]
        co = np.lexsort((c_us, c_user))
        c_user, c_us = c_user[co], c_us[co]
        users, p_starts = np.unique(p_user, return_index=True)
        p_ends = np.append(p_starts[1:], len(p_user))
        c_starts = np.searchsorted(c_user, users, side="left")
        c_ends = np.searchsorted(c_user, users, side="right")
        n_purch, n_conv, medians = [], [], []
        for i in range(len(users)):
            pu = p_us[p_starts[i] : p_ends[i]]
            cu = c_us[c_starts[i] : c_ends[i]]
            # index of the latest click <= each purchase (0 -> none)
            idx = np.searchsorted(cu, pu, side="right")
            conv = idx > 0
            lat = (pu[conv] - cu[idx[conv] - 1]) / 1_000_000.0
            n_purch.append(len(pu))
            n_conv.append(int(conv.sum()))
            medians.append(float(np.median(lat)) if lat.size else None)
        return pd.DataFrame(
            {
                "user_id": users,
                "n_purchases": n_purch,
                "n_converted": n_conv,
                "median_latency_s": medians,
            }
        )

    return (
        clicks.groupBy("bucket")
        .cogroup(purchases.groupBy("bucket"))
        .applyInPandas(
            match,
            "user_id bigint, n_purchases bigint, n_converted bigint, "
            "median_latency_s double",
        )
    )


@query(
    "zorder_events_key",
    oracle="""
    WITH s0 AS (
        SELECT event_id,
               user_id & 65535 AS x,
               (hour(ts) * 60 + minute(ts)) & 65535 AS y
        FROM events
    ), s1 AS (
        SELECT event_id, (x | (x << 8)) & 16711935 AS x,
                         (y | (y << 8)) & 16711935 AS y FROM s0
    ), s2 AS (
        SELECT event_id, (x | (x << 4)) & 252645135 AS x,
                         (y | (y << 4)) & 252645135 AS y FROM s1
    ), s3 AS (
        SELECT event_id, (x | (x << 2)) & 858993459 AS x,
                         (y | (y << 2)) & 858993459 AS y FROM s2
    ), s4 AS (
        SELECT event_id, (x | (x << 1)) & 1431655765 AS x,
                         (y | (y << 1)) & 1431655765 AS y FROM s3
    )
    SELECT event_id, CAST(x | (y << 1) AS BIGINT) AS zkey
    FROM s4
    """,
)
def zorder_events_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (user_id, minute-of-day):
    interleave the two dimensions' bits so that sorting by the single
    zkey clusters BOTH — the data-layout technique behind
    multi-dimensional file skipping (write sorted by zkey and parquet
    min/max row-group stats prune on either a user predicate or a
    time-of-day predicate; a plain sort clusters only its leading
    column). Pure shift/mask column expressions (functions/vectors.py
    morton_interleave16), the oracle unrolls the same bit-spreading
    stages as CTE steps."""
    from etl_inreach_spark.functions.vectors import morton_interleave16

    ev = load_table(spark, sf_dir, "events")
    zkey = morton_interleave16(
        F.col("user_id"),
        F.hour("ts") * F.lit(60) + F.minute("ts"),
    )
    return ev.select("event_id", zkey.cast("bigint").alias("zkey"))


@query(
    "tpch_q13_order_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution with the
    filter INSIDE the outer join (a customer with only urgent orders
    must land in the c_count=0 bucket, so the predicate cannot be a
    WHERE). Two hash aggs — the first keyed on c_custkey (the join
    key, so AQE can reuse the exchange), the second on the tiny
    c_count domain — and the left join ships only the two key columns.
    The outer-join-with-on-clause-filter is the shape that
    distinguishes a real outer-join implementation from a
    filter-then-join rewrite."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per = (
        c.join(
            o,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 180
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate lineitem by
    order, keep orders whose total quantity clears a threshold, then
    enrich with orders + customer. The HAVING runs BEFORE either join,
    so the join input collapses from |lineitem| to the few qualifying
    orders — at 100 TB the agg is the only full-table pass and both
    joins carry ~0.1% of orders (AQE broadcasts the survivors).
    Decimal-summed quantity (exact) surfaced as DOUBLE."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_q")
        )
        .filter(F.col("_q") > 180)
        .select("l_orderkey", F.col("_q").cast("double").alias("sum_qty"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


@query(
    "tpch_q21_last_shipper",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    ) AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate
    )
    GROUP BY s.s_name
    """,
)
def tpch_q21_last_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (correlated EXISTS + NOT EXISTS with an
    inequality): per supplier, count lineitems that shipped LAST among
    multi-supplier orders — the lineitem holding the order up. The
    oracle states the subqueries; the Spark side decorrelates them as
    a LEFT SEMI join (exists: another supplier in the order) and a
    LEFT ANTI join (not exists: a later-shipping other supplier), both
    equi-keyed on l_orderkey so the correlated inequality evaluates
    inside bounded per-order groups (<= 7 lines in TPC-H-shaped data)
    — never as a broadcast-nested-loop. The supplier dim joins
    broadcast. This is the decorrelation pattern Catalyst applies to
    EXISTS subqueries, written explicitly at the DataFrame layer."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    l1, l2, l3 = li.alias("l1"), li.alias("l2"), li.alias("l3")
    waiting = l1.join(
        l2,
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
        "left_anti",
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "bloom_prune_join",
    oracle="""
    SELECT o_orderkey, o_custkey, c_acctbal, o_totalprice
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE c_acctbal > 9000
    """,
)
def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (operators/bloom.py): the fact
    table is pruned by an m=2^17-bit filter built over the selective
    dim keys BEFORE the join — k=5 broadcast word-table lookups per
    fact row, zero fact shuffle — then the exact join removes the
    false positives. Because a Bloom filter has no false negatives,
    the pruned plan's result equals the plain join's, which is
    precisely what the oracle checks (the explicit, pinned form of
    Spark's injected runtime bloom filter). At 100 TB this is the
    difference between shuffling every fact row and shuffling ~the
    matching fraction + epsilon."""
    from etl_inreach_spark.operators.bloom import bloom_prune, bloom_words

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_acctbal")
    )
    words = bloom_words(c.select("c_custkey"))
    pruned = bloom_prune(o, words)
    return pruned.join(c, F.col("c_custkey") == F.col("o_custkey")).select(
        "o_orderkey", "o_custkey", "c_acctbal", "o_totalprice"
    )


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT c.c_nationkey,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_nationkey
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation under the value gate: revenue by nation
    maintained across two order batches (split at the order-date
    midpoint) through the additive MERGE sink
    (sinks.upsert.merge_aggregate_partitioned). Each increment
    partial-aggregates its batch (broadcast customer dim join, exact
    integer cents), then folds it into the persisted state by per-key
    summation — commutative-monoid maintenance, so the final state
    must hash-match the one-shot recompute the oracle runs. This is
    the pattern that turns a 100 TB nightly recompute into a
    batch-sized increment."""
    import shutil
    import uuid

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    lo, hi = o.agg(F.min("o_orderdate"), F.max("o_orderdate")).first()
    cutoff = lo + (hi - lo) / 2
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")

    from etl_inreach_spark.sinks.upsert import merge_aggregate_partitioned

    run = uuid.uuid4().hex[:12]
    path = f"/tmp/spark_graft_incragg/{run}/state"
    try:
        for batch in (
            o.filter(F.col("o_orderdate") <= F.lit(cutoff)),
            o.filter(F.col("o_orderdate") > F.lit(cutoff)),
        ):
            partial = (
                batch.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
                .select("c_nationkey", cents.alias("revenue_cents"))
                .withColumn("bucket", F.pmod(F.col("c_nationkey"), F.lit(8)))
                .groupBy("bucket", "c_nationkey")
                .agg(
                    F.sum("revenue_cents").alias("revenue_cents"),
                    F.count(F.lit(1)).alias("n_orders"),
                )
            )
            merge_aggregate_partitioned(
                spark, path, partial,
                key_cols=["c_nationkey"],
                sum_cols=["revenue_cents", "n_orders"],
                partition_col="bucket",
            )
        out = spark.read.parquet(path).select(
            "c_nationkey", "revenue_cents", "n_orders"
        )
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(f"/tmp/spark_graft_incragg/{run}", ignore_errors=True)
    return out


@query(
    "pandas_udaf_median_price",
    oracle="""
    SELECT o_orderpriority,
           median(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS median_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def pandas_udaf_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF surface: a GROUPED_AGG pandas UDF (Arrow-transferred
    whole-group column -> one scalar) computing the EXACT median order
    price per priority. Inputs are integer cents (JVM decimal cast, no
    float drift), so the median is either an integer or an
    exact-binary .5 average of the middle two — np.median and DuckDB's
    median agree bit-for-bit. Honest scale note: a GROUPED_AGG UDF
    materializes each group in one worker, so this shape is for
    BOUNDED groups (5 priorities here); corpus-scale exact percentiles
    belong to the sort-based order_value_percentiles path. The point
    under the gate is the pandas-UDAF API tier itself."""
    # typed-hint GROUPED_AGG form (Series -> scalar); the stringized
    # hints resolve against this module's globals, which import pd
    @F.pandas_udf("double")
    def exact_median(cents: pd.Series) -> float:
        return float(np.median(cents.to_numpy(dtype="int64")))

    # Spark refuses to mix a group-agg pandas UDF with JVM aggregates
    # in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the row count is
    # a second pandas UDAF rather than F.count
    @F.pandas_udf("long")
    def group_size(cents: pd.Series) -> int:
        return len(cents)

    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    return (
        o.select("o_orderpriority", cents.alias("_cents"))
        .groupBy("o_orderpriority")
        .agg(
            exact_median(F.col("_cents")).alias("median_cents"),
            group_size(F.col("_cents")).alias("n_orders"),
        )
    )


@query(
    "scd2_point_in_time_join",
    oracle=_SCD2_INTERVALS_SQL
    + """
    SELECT ev.event_id, ev.user_id, ev.ts, iv.state, iv.state_seq
    FROM events ev JOIN iv
      ON iv.user_id = ev.user_id
     AND iv.valid_from <= ev.ts
     AND (iv.valid_to IS NULL OR ev.ts < iv.valid_to)
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL (point-in-time) join against the SCD2 history this
    module builds: each event is enriched with the state interval
    containing its timestamp — the AS OF join every warehouse runs
    against slowly-changing dimensions. Composed by CALLING
    scd2_user_state (the intervals are the already-oracled output,
    not a re-derivation; the oracle interpolates the SAME interval SQL
    fragment as scd2_user_state's for the same reason), then an
    equi-join on user_id with the interval containment as a join
    residual — per-user groups are bounded, so the range predicate
    never becomes a nested loop. Containment is half-open
    [valid_from, valid_to); note the zero-width edge: when a user's
    state flips between two events at the SAME timestamp, the earlier
    event's own interval is [T, T) and contains nothing, so that event
    joins the interval that is OPEN AT T (the later state) — both
    engines apply the identical predicate, and the SCD2 reading is
    'the state in effect at T', not 'the state this event created'."""
    iv = scd2_user_state(spark, sf_dir).select(
        F.col("user_id").alias("_uid"), "state_seq", "state",
        "valid_from", "valid_to",
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    cond = (
        (F.col("_uid") == F.col("user_id"))
        & (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return ev.join(iv, cond).select(
        "event_id", "user_id", "ts", "state", "state_seq"
    )


@query(
    "snapshot_diff_orders",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderdate < DATE '2001-01-01'
    ),
    new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN year(o_orderdate) = 2000 THEN o_totalprice + 1
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE o_orderdate < DATE '2001-08-02' AND o_orderkey % 97 != 0
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'update'
           END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE (o.o_orderkey IS NULL) OR (n.o_orderkey IS NULL)
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed GENERATION (operators/relational.snapshot_diff,
    the inverse of cdc_latest_state): diff two simulated snapshots of
    orders — old = pre-2001; new = everything, with year-2000 totalprices
    bumped (simulated updates) and every 97th key removed
    (simulated deletes) — into (key, insert|update|delete). One
    full-outer join on the key, null-safe per-column comparison (no
    hashes, so no collision-masked misses), output |changes|-sized.
    Exercises all three change classes on real data."""
    from etl_inreach_spark.operators.relational import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit("2001-01-01")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        orders.filter(
            (F.col("o_orderdate") < F.lit("2001-08-02"))
            & (F.col("o_orderkey") % 97 != 0)
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.year("o_orderdate") == 2000, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        )
    )
    return snapshot_diff(old, new)


@query(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue between two nations (NATION_1/NATION_2)
    by direction and ship year. Plan shape: the two nation dims and
    their filters BROADCAST into supplier/customer first (pruning both
    to two nations before any big join), lineitem's date range pushes
    to the scan, and the only big shuffles are the
    lineitem-orders-customer equi-joins. Decimal-fold revenue for the
    exact cross-engine sum."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = n.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(pair.withColumnRenamed("n_name", "supp_nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(pair.withColumnRenamed("n_name", "cust_nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "cust_nation")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year")
    ).agg(F.sum(rev).cast("double").alias("revenue"))


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= DATE '2000-10-01'
      AND o.o_orderdate < DATE '2001-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by lost
    revenue on returned lineitems in 2000-Q4. Both selective filters
    (order date quarter, returnflag) push to their scans BEFORE the
    joins, the nation dim broadcasts, and the final top-20 is a
    TakeOrdered (per-partition partial top-k + driver merge), not a
    global sort. Deterministic tie-break on custkey; decimal-fold
    revenue."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("2000-10-01"))
        & (F.col("o_orderdate") < F.lit("2001-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "tpch_q14_promo_revenue",
    oracle="""
    WITH a AS (
        SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
                   AS ship_yearmonth,
               CAST(COALESCE(CAST(SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(l_extendedprice AS DECIMAL(14,4)) *
                             (1 - CAST(l_discount AS DECIMAL(6,4))) END)
                        AS DECIMAL(18,6)),
                    CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4)) *
                        (1 - CAST(l_discount AS DECIMAL(6,4))))
                    AS DECIMAL(18,6)) AS DOUBLE) AS total_revenue
        FROM lineitem, part
        WHERE l_partkey = p_partkey
        GROUP BY 1
    )
    SELECT ship_yearmonth, promo_revenue, total_revenue,
           100.0 * promo_revenue / total_revenue AS promo_pct
    FROM a
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): the share of revenue coming
    from PROMO-type parts, per ship month — the canonical
    conditional-aggregation-over-a-dimension-join query. Part is a tiny
    dim and is BROADCAST, so lineitem never shuffles for the join; the
    only shuffle is the groupBy on ship_yearmonth with map-side partial
    aggregation (one combined row per (task, month) — a few hundred
    rows total reach the reduce side regardless of corpus size). At
    100 TB the plan shape is unchanged: fact-side scan + broadcast
    hash join + 2-phase agg. Decimal discipline: both SUMs go through
    DECIMAL(18,6) then DOUBLE (the q5 hop), and the ratio is computed
    double/double AFTER the casts so both engines divide bit-identical
    operands (IEEE division is deterministic); the adapted synthetic
    p_type domain has exact value 'PROMO' (no LIKE 'PROMO%%' prefix
    needed). Generalizes /root/reference/task.ts:151-159's
    "latest-state share" reporting into the standard promo-share form.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    price_d = F.col("l_extendedprice").cast("decimal(14,4)")
    disc_d = F.col("l_discount").cast("decimal(6,4)")
    rev = price_d * (F.lit(1) - disc_d)
    ym = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("bigint")
    agg = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(ym.alias("ship_yearmonth"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast(
                    "decimal(18,6)"
                ),
                F.lit(0).cast("decimal(18,6)"),
            )
            .cast("double")
            .alias("promo_revenue"),
            F.sum(rev).cast("decimal(18,6)").cast("double").alias("total_revenue"),
        )
    )
    return agg.select(
        "ship_yearmonth",
        "promo_revenue",
        "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
            "promo_pct"
        ),
    )


def _cms_incr_oracle() -> str:
    """One-shot CMS cells over ALL events — what the incremental fold
    must equal by the monoid law."""
    from etl_inreach_spark.operators.cms import cms_position_sql

    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS row, "
        f"CAST({cms_position_sql('user_id', i, 512)} AS BIGINT) AS pos, "
        f"CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 2"
        for i in range(4)
    )
    return f"""
    {rows}
    """


@query("cms_incremental_merge", oracle=_cms_incr_oracle())
def cms_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-as-incremental-view: a count-min sketch maintained
    ACROSS BATCHES through the additive MERGE sink — per-batch CMS
    partials (operators/cms.cms_build over each half of the event
    stream, split at the time midpoint) folded into persisted state by
    per-cell summation (sinks.upsert.merge_aggregate_partitioned).
    CMS cells are counts, counts are a commutative monoid, so the
    folded state must hash-match the one-shot sketch over all events —
    which is exactly what the oracle computes. Composes two
    independently-oracled operators (cms_build, merge sink) and pins
    that the COMPOSITION preserves exactness; at 100 TB this is how a
    frequency sketch stays current for the cost of each increment,
    with the state bounded at depth*width rows forever."""
    import shutil
    import uuid

    from etl_inreach_spark.operators.cms import cms_build
    from etl_inreach_spark.sinks.upsert import merge_aggregate_partitioned

    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cutoff = lo + (hi - lo) / 2
    run = uuid.uuid4().hex[:12]
    path = f"/tmp/spark_graft_cmsincr/{run}/state"
    try:
        for i, batch in enumerate(
            (
                ev.filter(F.col("ts") <= F.lit(cutoff)),
                ev.filter(F.col("ts") > F.lit(cutoff)),
            )
        ):
            partial = cms_build(batch.select("user_id"), width=512, depth=4)
            # partition_col is itself part of the cell key: the sink
            # groups by (partition_col, *key_cols), so "row" must not
            # repeat in key_cols
            merge_aggregate_partitioned(
                spark, path, partial,
                key_cols=["pos"],
                sum_cols=["cnt"],
                partition_col="row",
                batch_id=f"batch-{i}",
            )
        out = spark.read.parquet(path).select("row", "pos", "cnt")
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(f"/tmp/spark_graft_cmsincr/{run}", ignore_errors=True)
    return out


def _drev():
    """Decimal-fold TPC-H revenue term extprice*(1-discount) — exact
    and order-insensitive on both engines (SURVEY §7 hard-parts #4)."""
    return F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical
    scan-filter-aggregate. The whole query is ONE parquet scan with
    every predicate pushed to the reader (date range, discount band,
    quantity cap — all appear under PushedFilters) and a two-column
    ReadSchema, then a map-side partial sum: zero shuffles beyond the
    1-row final merge — the shape that proves predicate pushdown and
    column pruning survive into the physical plan. Decimal-fold
    product for the exact cross-engine sum."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * F.col(
        "l_discount"
    ).cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    WITH flat AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
          AND o.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                         THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END)
                AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM flat GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of PROMO-part
    revenue among ASIA-region customers, by order year. Plan shape:
    region -> nation -> customer prune by BROADCAST before touching
    orders; part's p_type filter broadcasts into lineitem (the most
    selective prune first); supplier's nation name broadcasts last.
    The only big shuffles are lineitem-orders-customer. The share is a
    ratio of two decimal-fold sums divided as doubles — exact and
    order-insensitive on both engines."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_nations = n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).select(F.col("n_nationkey").alias("_cnk"))
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(cust_nations), F.col("c_nationkey") == F.col("_cnk")
    ).select("c_custkey")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("_snk"),
                             F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("_snk"),
    ).select("s_suppkey", "supp_nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    flat = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            _drev().alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return flat.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                .otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the revenue-view + scalar-subquery
    pattern. The per-supplier revenue relation is built ONCE and
    localCheckpointed (it is consumed twice: the max and the
    equality filter — without the pin the lineitem scan+agg would run
    twice, the filtered-broadcast trap from the r5 memory); the max is
    a 1-row broadcast joined back, never a driver collect. Equality on
    total_revenue is safe because the decimal-fold makes both engines'
    revenue bit-identical before the double cast."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_drev()).cast("double").alias("total_revenue"))
        .localCheckpoint(eager=True)
    )
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH pa AS (
        SELECT p_partkey FROM part WHERE p_brand = 'Brand#4' AND p_size < 15
    ),
    thr AS (
        SELECT l_partkey,
               0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                      / count(*)) AS qty_thr
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN pa ON pa.p_partkey = l.l_partkey
    JOIN thr ON thr.l_partkey = l.l_partkey
    WHERE l.l_quantity < thr.qty_thr
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), adapted: the synthetic
    part table has no p_container, so the part filter is
    (p_brand, p_size < 15) — same selectivity role, same plan. The
    correlated scalar subquery (per-part 20%-of-average quantity
    threshold) is DECORRELATED into one groupBy over lineitem joined
    back by part key — the aggregate-then-join rendering Spark's
    optimizer also picks for correlated scalar subqueries, expressed
    explicitly. The threshold avg decimal-folds (sum exact, then ONE
    double division) so both engines filter on bit-identical
    thresholds. The part filter BROADCASTS into both sides."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#4") & (F.col("p_size") < 15)
    ).select("p_partkey")
    thr = li.groupBy(F.col("l_partkey").alias("_tpk")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_thr")
    )
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(thr, F.col("l_partkey") == F.col("_tpk"))
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast(
                    "double"
                )
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


@query(
    "tpch_q19_disjunctive_filter",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue), adapted: the synthetic lineitem
    has no l_shipinstruct/l_shipmode, so the disjunction is the
    (brand, size, quantity) triple alone — the part of Q19 that
    exercises the optimizer. The point is DISJUNCTION HANDLING:
    Catalyst extracts the common l_partkey equi-join key from the OR,
    derives the part-side union filter (brand IN ... AND size <= 15)
    and pushes it to the part SCAN, so the broadcast dim carries only
    matching parts; the mixed part+lineitem disjuncts evaluate post-
    join in one codegen stage — no union-of-three-joins rewrite, no
    double scan of lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(F.sum(_drev()).cast("double").alias("revenue"))
    )


@query(
    "tpch_q22_sales_opportunity",
    oracle="""
    WITH pool AS (
        SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11)
    ),
    avgbal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*) AS ab
        FROM pool WHERE c_acctbal > 0
    )
    SELECT c_nationkey AS cntry,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM pool c
    WHERE c_acctbal > (SELECT ab FROM avgbal)
      AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= DATE '1999-01-01'
          )
    GROUP BY c_nationkey
    """,
)
def tpch_q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: the synthetic
    customer has no c_phone, so the country-code IN-list is a
    c_nationkey IN-list, and because every synthetic customer has at
    least one order the anti-join condition is 'no order since
    1999-01-01' (lapsed, not never-ordered) — same operators, same
    plan: an uncorrelated scalar-subquery average (1-row broadcast),
    then a LEFT ANTI join against the date-filtered orders (the
    NOT-EXISTS decorrelation; the date filter pushes to the orders
    scan so the anti side shrinks before the shuffle), then a
    nationkey hash agg. Decimal-fold for the average and the output
    sum."""
    pool = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    avgbal = pool.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_ab")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    ).select("o_custkey")
    return (
        pool.crossJoin(F.broadcast(avgbal))
        .filter(F.col("c_acctbal") > F.col("_ab"))
        .join(recent, pool["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@query(
    "pareto_frontier_orders",
    oracle="""
    WITH u AS (
        SELECT o_orderkey, o_orderdate, o_totalprice
        FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
    FROM u o
    WHERE NOT EXISTS (
        SELECT 1 FROM u d
        WHERE d.o_orderdate >= o.o_orderdate
          AND d.o_totalprice >= o.o_totalprice
          AND (d.o_orderdate > o.o_orderdate
               OR d.o_totalprice > o.o_totalprice)
    )
    """,
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) over urgent orders on the two maximize
    dimensions (o_orderdate, o_totalprice): an order survives iff no
    other urgent order is at least as late AND at least as expensive
    with one strict. The textbook rendering is the O(n^2) dominance
    anti-join the ORACLE runs (DuckDB's IEJoin keeps it feasible at
    oracle scale); the Spark side is the linear two-window form —
    (1) per-date partition keeps only rows tying the date's max price
    (same-date dominance), then (2) one ordered pass marks a survivor
    iff the running max price over STRICTLY-LATER dates is below its
    own (RANGE frame on negated epoch seconds, bound -1 = any later
    date, so date ties never dominate each other and duplicate
    (date, price) pairs all survive — matching NOT EXISTS semantics
    exactly). Stage 2's window is single-partition but runs on the
    per-date maxima only (|distinct dates| rows, ~2.4k for 7 years of
    days — bounded by the calendar, not the table); at 100 TB stage 1
    has already collapsed the data 5 orders of magnitude, which is
    what makes the global frame safe. Prices/dates pass through raw
    (no arithmetic), so doubles are bit-identical parquet values."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )
    per_date = Window.partitionBy("o_orderdate")
    cand = o.withColumn(
        "_mx", F.max("o_totalprice").over(per_date)
    ).where(F.col("o_totalprice") == F.col("_mx"))
    later = (
        Window.orderBy(F.col("_negu"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    return (
        cand.withColumn("_negu", -F.unix_timestamp("o_orderdate"))
        .withColumn("_later_mx", F.max("o_totalprice").over(later))
        .where(
            F.col("_later_mx").isNull()
            | (F.col("_later_mx") < F.col("o_totalprice"))
        )
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


@query(
    "cohort_retention_weekly",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        FROM events
    ), coh AS (
        SELECT user_id, wk,
               MIN(wk) OVER (PARTITION BY user_id) AS cohort_week
        FROM act
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, wk) AS BIGINT) // 7
               AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM coh
    GROUP BY cohort_week, week_offset
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by first-activity
    week, counted at each later week they return. Two key-bounded
    shuffles: (user, week) distinct activity (partial-agg), then a
    per-user window MIN for the cohort anchor (user-sized partitions —
    no join-back), then the (cohort, offset) count which needs no
    DISTINCT because activity is already one row per (user, week).
    Week anchors are Monday DATEs on both engines (Spark date_trunc
    returns midnight TIMESTAMP, cast to DATE to match DuckDB's DATE);
    offsets are exact integer day-diffs div 7 (both anchors Mondays,
    so always a multiple of 7). At 100 TB the distinct and the final
    agg are both partial-aggregated and the widest relation is one
    row per active (user, week) — the standard retention shape."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    ).distinct()
    coh = act.withColumn(
        "cohort_week", F.min("wk").over(Window.partitionBy("user_id"))
    )
    return coh.select(
        "cohort_week",
        F.expr("CAST(datediff(wk, cohort_week) AS BIGINT) div 7").alias(
            "week_offset"
        ),
    ).groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@query(
    "trailing_1h_distinct_users",
    oracle="""
    SELECT event_id,
           CAST(COUNT(DISTINCT user_id) OVER (
               PARTITION BY event_type
               ORDER BY epoch_ms(ts) // 1000
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS distinct_users_1h
    FROM events
    """,
)
def trailing_1h_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous trailing-window distinct count: for every event, how
    many DISTINCT users of the same event type fired in the preceding
    hour (inclusive). Spark has no DISTINCT aggregate over windows, so
    the rendering is size(collect_set(user)) over a RANGE frame on
    epoch seconds. DuckDB runs its native COUNT(DISTINCT ...) OVER
    the per-type frame, so the workaround is pinned exactly. RANGE
    peers (equal timestamps) are all in frame on both engines — tie
    semantics match by construction. The frame key is WHOLE SECONDS
    on both sides: Spark's unix_timestamp truncates sub-second parts,
    so the oracle orders by epoch_ms // 1000 rather than epoch(),
    whose fractional seconds would shift boundary rows out of the
    hour.

    Scale (the VERDICT-r6 item): a plain PARTITION BY event_type
    single-threads each hot type, so the window here runs per
    (event_type, DAY BUCKET) — bounded by one type-day of traffic,
    never a type's full history. Correctness across the bucket edge
    comes from replicating each day's LAST 3599 SECONDS of rows into
    the NEXT day's bucket before the window pass (a trailing 1h frame
    never reaches further back than that), computing the frame over
    the union, and keeping only rows whose own day equals the bucket
    — one narrow filtered union (~4% row duplication at uniform
    traffic) instead of a second boundary-merge pass. The oracle is
    UNCHANGED per-type DISTINCT, so bucketing is value-pinned as pure
    plan shape. For indefinitely-running pipelines the streaming
    sliding-window operator (sliding_1h_user_activity) is the
    companion shape."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    base = ev.select(
        "event_id",
        "event_type",
        "user_id",
        sec.alias("sec"),
        F.floor(sec / F.lit(86400)).cast("bigint").alias("day"),
    )
    own = base.withColumn("bucket", F.col("day"))
    boundary = base.filter(F.col("sec") % 86400 >= 86400 - 3599).withColumn(
        "bucket", F.col("day") + 1
    )
    un = own.unionByName(boundary)
    w = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("sec")
        .rangeBetween(-3599, 0)
    )
    return (
        un.select(
            "event_id",
            "day",
            "bucket",
            F.size(F.collect_set("user_id").over(w)).cast("bigint").alias(
                "distinct_users_1h"
            ),
        )
        .filter(F.col("day") == F.col("bucket"))
        .select("event_id", "distinct_users_1h")
    )


_EWMA_G = 1 << 20  # fixed-point grid for exact integer EWMA


@query(
    "ewma_user_daily",
    oracle=f"""
    WITH RECURSIVE dc AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), seq AS (
        SELECT user_id, day, c,
               row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        FROM dc
    ), rec(user_id, day, c, rn, s) AS (
        SELECT user_id, day, c, rn, c * {_EWMA_G} FROM seq WHERE rn = 1
        UNION ALL
        SELECT q.user_id, q.day, q.c, q.rn, (r.s + q.c * {_EWMA_G}) // 2
        FROM rec r JOIN seq q ON q.user_id = r.user_id AND q.rn = r.rn + 1
    )
    SELECT user_id, day, c AS n_events, s AS ewma_fp FROM rec
    """,
)
def ewma_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/2) of each
    user's daily event count — the per-entity activity-trend feature
    of a behavioral pipeline — in EXACT fixed-point arithmetic on the
    2^20 grid: s_1 = c_1*G, s_t = (s_(t-1) + c_t*G) >> 1, every step
    a floor on non-negative integers, so the sequence is bit-identical
    on any engine/partitioning and the oracle replays the recurrence
    verbatim as a recursive CTE.

    The EWMA recurrence is inherently sequential per key, but it does
    NOT need the pandas escape hatch OR a quadratic array fold
    (ADVICE r7: the previous per-element F.concat accumulator copied
    the whole output array each step — O(days^2) per user). The
    floor-composition identity floor((floor(x/2)+a)/2) =
    floor((x+2a)/4) collapses t halving steps into ONE floor:
    s_t = floor((s_in + sum_(j<=t) 2^(j-1)*a_j) / 2^t) for a block
    entered with state s_in (and the user's first block enters with
    the pretend state s_in = a_1, which reproduces s_1 = a_1
    exactly). So: split each user's series into 16-day blocks, take a
    DECIMAL(38,0) weighted prefix sum inside each block (a
    block-bounded window), fold ONLY the scalar closing state across
    the per-user block summaries (the one remaining sequential chain,
    days/16 elements, its concat accumulator now quadratic only in
    block COUNT — ~230 tiny structs for a 10-year history), and emit
    every day's value with one integer `div`. Every step is a floor
    on non-negative integers, so the blocked rendering is
    bit-identical to the verbatim recurrence the oracle replays.
    Plan: two key-bounded shuffles (user-day counts, then per-user
    block fold); windows are partitioned by (user, block) — never a
    data-sized unpartitioned stream. The DECIMAL grid bounds the
    weighted prefix by 2^16 * c_max * 2^20 << 10^38."""
    blk_len = 16
    ev = load_table(spark, sf_dir, "events")
    dc = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rn = Window.partitionBy("user_id").orderBy("day")
    seq = dc.select(
        "user_id",
        "day",
        "c",
        (F.row_number().over(w_rn) - 1).alias("t0"),
    ).select(
        "user_id",
        "day",
        "c",
        (F.col("t0") % blk_len + 1).alias("j"),
        F.expr(f"t0 div {blk_len}").alias("blk"),
        F.expr(
            f"cast(c * {_EWMA_G} as decimal(38,0))"
            " * shiftleft(cast(1 as bigint), j - 1)"
        ).alias("w"),
    )
    w_pre = (
        Window.partitionBy("user_id", "blk")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = seq.withColumn("p", F.sum("w").over(w_pre))
    # summaries derive from PRE, not seq: s_blk is the block's LAST
    # cumulative value (max of the running sum — weights are
    # non-negative), so the shared scan/shuffle/window lineage is
    # single by CONSTRUCTION rather than by relying on AQE's runtime
    # exchange reuse to deduplicate two identical subtrees (measured:
    # jobs/exchanges identical either way on this host, but the
    # guarantee should not depend on a runtime optimization)
    summaries = pre.groupBy("user_id", "blk").agg(
        F.max("p").alias("s_blk"),
        F.count(F.lit(1)).alias("len_blk"),
        F.max(
            F.when(F.col("j") == 1, F.col("c") * F.lit(_EWMA_G))
        ).alias("a_first"),
    )
    per_user = summaries.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("blk"), F.col("s_blk"), F.col("len_blk"),
                    F.col("a_first"),
                )
            )
        ).alias("_blocks")
    )
    empty = F.expr(
        "cast(array() as array<struct<blk:bigint,sin:decimal(38,0)>>)"
    )
    init = F.struct(
        F.lit(-1).cast("decimal(38,0)").alias("s"), empty.alias("out")
    )

    def step(acc, x):
        s_in = F.when(
            acc["s"] < 0, x["a_first"].cast("decimal(38,0)")
        ).otherwise(acc["s"])
        # exact floor((s_in + S) / 2^L) on non-negative decimals:
        # subtract the remainder first so the decimal division is an
        # exact integer quotient (no scale-adjustment rounding risk);
        # pow(2, L<=16) is double-exact, cast back to bigint
        p2 = F.pow(F.lit(2.0), x["len_blk"]).cast("bigint")
        num = s_in + x["s_blk"]
        s_out = ((num - num % p2) / p2).cast("decimal(38,0)")
        return F.struct(
            s_out.alias("s"),
            F.concat(
                acc["out"],
                F.array(F.struct(x["blk"].alias("blk"), s_in.alias("sin"))),
            ).alias("out"),
        )

    folded = per_user.select(
        "user_id",
        F.aggregate(F.col("_blocks"), init, step, lambda a: a["out"]).alias(
            "_sins"
        ),
    )
    sins = folded.select(
        "user_id", F.explode("_sins").alias("_b")
    ).select(
        "user_id",
        F.col("_b.blk").alias("blk"),
        F.col("_b.sin").alias("sin"),
    )
    out = pre.join(sins, ["user_id", "blk"]).select(
        "user_id",
        "day",
        F.col("c").alias("n_events"),
        F.expr(
            "(cast(sin as decimal(38,0)) + p)"
            " div shiftleft(cast(1 as bigint), j)"
        ).alias("ewma_fp"),
    )
    return out


@query(
    "mad_anomaly_daily",
    oracle="""
    WITH dc AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), med AS (
        SELECT event_type,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)
                    AS BIGINT) AS med
        FROM dc GROUP BY event_type
    ), dev AS (
        SELECT dc.event_type, dc.day, dc.cnt, med.med,
               abs(dc.cnt - med.med) AS adev
        FROM dc JOIN med USING (event_type)
    ), mad AS (
        SELECT event_type,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)
                    AS BIGINT) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT dev.event_type, dev.day, dev.cnt, dev.med, mad.mad,
           CAST(dev.adev * 10 > 35 * greatest(mad.mad, 1) AS BIGINT)
               AS is_anomaly
    FROM dev JOIN mad USING (event_type)
    """,
)
def mad_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection over per-type daily event volumes —
    the data-quality monitor of an ingestion pipeline: flag any
    (event_type, day) whose count deviates from the type's median by
    more than 3.5x the median absolute deviation. The modified
    z-score uses the LOWER median (percentile_disc(0.5): the element
    at rank ceil(n/2), and 0.5*n is exact in binary so the native
    DuckDB form has no floating boundary) on both the counts and the
    absolute deviations, and the 3.5x threshold is the all-integer
    comparison adev*10 > 35*max(mad,1) — no division, no doubles, so
    the verdict value-hashes exactly. mad=0 (a majority-constant
    series) falls back to mad=1 so only genuine deviations flag.

    Scale shape: one (type, day) partial-count shuffle (map-side
    combine collapses the raw events), then two per-type medians over
    the CALENDAR-bounded daily series — collect_list per type is
    bounded by days-in-history, not events, the same boundedness
    argument as ewma_user_daily/cohort_retention_weekly. The per-type
    median relations broadcast back onto the daily rows. At 100 TB
    the event volume grows per-day row COUNT, not the per-type series
    length; for multi-decade histories switch the median to the
    rank-selection form of exact_quantile_rankselect."""
    ev = load_table(spark, sf_dir, "events")
    dc = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))

    def lower_median(col: str) -> F.Column:
        arr = F.array_sort(F.collect_list(F.col(col)))
        # rank ceil(n/2) on the 1-indexed sorted array = the element
        # percentile_disc(0.5) picks (first cume_dist >= 0.5)
        return F.element_at(arr, ((F.size(arr) + 1) / 2).cast("int"))

    med = dc.groupBy("event_type").agg(lower_median("cnt").alias("med"))
    dev = dc.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cnt") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(lower_median("adev").alias("mad"))
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        "cnt",
        "med",
        "mad",
        (F.col("adev") * 10 > 35 * F.greatest(F.col("mad"), F.lit(1)))
        .cast("bigint")
        .alias("is_anomaly"),
    )


@query(
    "ohlc_user_hourly",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(hour(ts) AS BIGINT) AS hr,
           (min({'t': ts, 'i': event_id, 'v': value})).v AS open,
           max(value) AS high,
           min(value) AS low,
           (max({'t': ts, 'i': event_id, 'v': value})).v AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def ohlc_user_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — the time-series compaction primitive
    (finance bars, telemetry rollups): per (user, day, hour), the
    first and last observed value plus the extremes and the sample
    count. First/last are pure SELECTION, not arithmetic: the min/max
    of a lexicographic (ts, event_id, value) struct — event_id breaks
    same-timestamp ties deterministically, and because both engines
    compare structs lexicographically the chosen VALUE is identical
    (no float math anywhere in this query, so no decimal discipline
    needed). Scale shape: ONE map-side-combining hash aggregate
    keyed (user, day, hour) — each partial carries two structs + two
    doubles + a count per live key, merges associatively, and the
    output is the downsampled series itself (the input never
    re-shuffles). This is the aggregation form of the
    latest_per_key argmax dedup (reference O18) generalized to
    first+last+extremes."""
    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i"),
                   F.col("value").alias("v"))
    return ev.groupBy(
        "user_id",
        F.to_date("ts").alias("day"),
        F.hour("ts").cast("bigint").alias("hr"),
    ).agg(
        F.min(key).getField("v").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(key).getField("v").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "session_path_trigrams",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL '1800' SECOND
                    THEN 1 ELSE 0 END AS is_new
        FROM (
            SELECT user_id, ts, event_id, event_type,
                   lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_ts
            FROM events
        )
    ), g AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM s
    ), tri AS (
        SELECT event_type AS t1,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM g
        WINDOW w AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    )
    SELECT t1 || '>' || t2 || '>' || t3 AS path,
           CAST(count(*) AS BIGINT) AS cnt
    FROM tri WHERE t3 IS NOT NULL
    GROUP BY 1 ORDER BY cnt DESC, path ASC LIMIT 20
    """,
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey pattern mining: the 20 most frequent 3-step
    event-type paths WITHIN a session (gap = 1800 s, the sessionize
    operator's semantics — the oracle replays lag/gap/running-sum
    verbatim). Trigrams never cross a session boundary, and the
    within-session order is the total (ts, event_id) order, so the
    path multiset is partition-invariant. Tie-breaking the top-20 by
    (count DESC, path ASC) makes the cut deterministic.

    Scale shape: one (user) shuffle+sort that BOTH sessionization
    windows and the two leads reuse (same partitioning prefix and
    ordering — one Exchange, one Sort in the plan), then a
    partial-agg count whose key space is bounded by |event_types|^3,
    and a TakeOrdered top-20 (no global sort). The path relation is
    vocabulary-sized, never event-sized."""
    from etl_inreach_spark.operators.windows import sessionize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    g = sessionize(ev, "sid")
    w = Window.partitionBy("user_id", "sid").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    tri = g.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        tri.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("path").asc())
        .limit(20)
    )

"""Relational surface queries (SURVEY.md §2.2 gap table): joins,
aggregation, windows, set ops, sort/limit — the categories the
reference lacks entirely, provided via Spark built-ins.

Float discipline: every SUM goes through DECIMAL (exact, associative,
order-insensitive in both engines) and is cast back to DOUBLE at the
end, so the driver's value hash is stable under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.dedup import topk_by_key
from etl_inreach_spark.operators.relational import asof_join, broadcast_dim_join
from etl_inreach_spark.operators.windows import sessionize, tumbling_agg
from etl_inreach_spark.queries import query
from etl_inreach_spark.session import tune


def dsum(col: str) -> Column:
    """Exact order-insensitive sum: decimal accumulate, double out."""
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


@query(
    "broadcast_config_join",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def broadcast_config_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 joins — the idiomatic rendering of the reference's
    closure-captured config (task.ts:68,121,128): every fact row picks
    up its config/dimension attributes via a broadcast hash join (no
    shuffle of the fact side)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = broadcast_dim_join(orders, customer, on=[F.col("o_custkey") == F.col("c_custkey")])
    return joined.select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4)) *
                    (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(18,6))
                AS DOUBLE)
               AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4)) *
                    (1 - CAST(l_discount AS DECIMAL(6,4))) *
                    (1 + CAST(l_tax AS DECIMAL(6,4)))) AS DECIMAL(18,6))
                AS DOUBLE)
               AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the §2.2 aggregation row.
    One hash aggregation with map-side partial agg; the shipdate
    filter is pushed to the parquet scan (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    price_d = F.col("l_extendedprice").cast("decimal(14,4)")
    disc_d = F.col("l_discount").cast("decimal(6,4)")
    tax_d = F.col("l_tax").cast("decimal(6,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        # double out, via an EXACT narrow-decimal step: the true sums have
        # scale <= 6 (2dp price x 2dp discount x 2dp tax), so the
        # decimal(18,6) cast is lossless in both engines, and an
        # int64-backed decimal -> double conversion is a single correct
        # rounding on both sides (DuckDB double-rounds only int128-backed
        # wide decimals; a decimal-typed output column instead trips the
        # harness normalizer, which renders engine decimals differently)
        F.sum(price_d * (F.lit(1) - disc_d))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("sum_disc_price"),
        F.sum(price_d * (F.lit(1) - disc_d) * (F.lit(1) + tax_d))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("sum_charge"),
        (dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        (dsum("l_discount") / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 top-k per key — the k>1 generalization of the reference's
    argmax dedup (O18), deterministic tie-break on o_orderkey."""
    orders = load_table(spark, sf_dir, "orders")
    top = topk_by_key(
        orders, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3
    )
    return top.select("o_custkey", "o_orderkey", "o_totalprice", "rnk")


@query(
    "semi_join_active_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 joins — left-semi: customers having at least one order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "anti_join_inactive_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND year(o_orderdate) = 2001)
    """,
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 joins — left-anti: customers with no order in 2001 (the
    partial final year, so the result is non-empty at every SF)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 2001)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "asof_last_click_before_purchase",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
           ) AS asof_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 as-of join — for each purchase, the latest click at-or-
    before it by the same user. Union+window implementation (one
    shuffle, no range-probe blow-up; operators/relational.asof_join)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(purchases, clicks)
    return out.select("event_id", "user_id", "ts", "asof_ts")


@query(
    "cross_join_region_nation",
    oracle="""
    SELECT r.r_name, n.n_name,
           (r.r_regionkey = n.n_regionkey) AS is_home
    FROM region r CROSS JOIN nation n
    """,
)
def cross_join_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 joins — explicit CROSS JOIN (cartesian) of two small dims:
    the only join shape without a key. Physical plan is a broadcast
    nested-loop join — the one place BNLJ is the RIGHT plan; anything
    non-dim-sized must never reach this operator."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(F.broadcast(nation)).select(
        "r_name",
        "n_name",
        (F.col("r_regionkey") == F.col("n_regionkey")).alias("is_home"),
    )


@query(
    "range_join_ship_within_90d",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate < o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderpriority
    """,
)
def range_join_ship_within_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 joins — equi key + range predicate (interval join): line
    items shipped within 90 days of their order date. The equi key
    keeps it a hash join; the range condition is a post-join filter,
    so no nested-loop blow-up at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.join(
        orders,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        dsum("l_quantity").alias("sum_qty"),
    )


@query(
    "rollup_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 aggregation — ROLLUP grouping sets (subtotals + grand
    total), all in one hash aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("sum_price"),
    )


@query(
    "set_ops_repeat_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_ops_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 set ops — INTERSECT: customers ordering in both 1995 and
    1996."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@query(
    "set_ops_churned_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_ops_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 set ops — EXCEPT: 1995 customers who did not return in
    1996."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep
    # leftover multiplicities of keys present in both years.
    return y95.subtract(y96)


@query(
    "window_running_stats",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value) OVER w AS prev_value,
           row_number() OVER w AS rn,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
                OVER (PARTITION BY user_id
                      ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def window_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 window functions — lag / row_number / running frame sum
    over each user's event timeline (deterministic ordering by
    (ts, event_id))."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.row_number().over(w).alias("rn"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(wf).cast("double").alias("running_sum"),
    )


@query(
    "sessionize_events",
    oracle="""
    SELECT event_id, user_id, ts, session_id FROM (
        SELECT event_id, user_id, ts,
               -- CAST: DuckDB SUM(int) is HUGEINT (int128); harness value
               -- normalizers render HUGEINT unlike Spark's bigint, which
               -- breaks the value hash even when the numbers are equal
               CAST(SUM(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT)
                   AS session_id
        FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN prev_ts IS NULL
                             OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1
                        ELSE 0 END AS is_new
            FROM (
                SELECT event_id, user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC) AS prev_ts
                FROM events
            )
        )
    )
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 session windows (batch rendering) — 30-minute-gap
    sessionization per user (operators/windows.sessionize)."""
    ev = load_table(spark, sf_dir, "events")
    out = sessionize(ev)
    return out.select("event_id", "user_id", "ts", F.col("session_id").cast("bigint").alias("session_id"))


@query(
    "tumbling_15min_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_15min_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 streaming windows, batch rendering — epoch-aligned
    15-minute tumbling aggregation (operators/windows.tumbling_agg).
    The bucket is a plain column (not Spark's window() struct) so the
    aggregation keeps map-side partial agg and the result is joinable."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling_agg(
        ev, [F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value")]
    )


@query(
    "distinct_users_per_type",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS users,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 aggregation — exact distinct aggregation (expands to a
    two-phase agg under the hood; partial agg on (type, user) first)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("users"),
        F.count(F.lit(1)).alias("n"),
    )


@query("approx_distinct_users")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 aggregation — HyperLogLog++ approximate distinct (the
    100 TB path when exact distinct's expand-shuffle is too big).
    No SQL oracle: DuckDB's approx sketch differs; driver does the
    rows-only check, pytest asserts the estimate is within 5% of
    exact. (kmv_distinct_users below is the value-oracled rendering
    of the same capability.)"""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


# KMV (k-minimum-values) sketch parameters — shared by the Spark query
# and its DuckDB oracle below. Hash is (A*(u mod M) + B) mod the
# Mersenne prime M = 2^31-1: the key is folded mod M BEFORE the affine
# multiply so the product stays < 2^63 (ANSI-overflow-safe for any
# bigint key) and non-negative-mod keeps negative keys from skewing
# the estimator — portable integer arithmetic both engines compute
# identically (same grammar as operators/kmv.py and operators/cms.py).
_KMV_K = 64
_KMV_A = 1103515245
_KMV_B = 12345
_KMV_M = (1 << 31) - 1


@query(
    "kmv_distinct_users",
    oracle=f"""
    WITH dh AS (
        SELECT DISTINCT event_type,
               ({_KMV_A} * (((user_id % {_KMV_M}) + {_KMV_M}) % {_KMV_M}) + {_KMV_B}) % {_KMV_M} AS h
        FROM events
    ),
    ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
        FROM dh
    ),
    agg AS (
        SELECT event_type, COUNT(*) AS nd,
               MAX(CASE WHEN rn <= {_KMV_K} THEN h END) AS kth
        FROM ranked GROUP BY event_type
    )
    SELECT event_type,
           CASE WHEN nd >= {_KMV_K} THEN ({float(_KMV_K - 1)} * {_KMV_M}) / kth
                ELSE CAST(nd AS DOUBLE) END AS kmv_users
    FROM agg
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 aggregation — the VALUE-ORACLED approximate-distinct: a
    k-minimum-values sketch (Bar-Yossef et al.) with a portable
    universal hash, so DuckDB reproduces the estimate bit-for-bit
    (unlike HLL, whose sketch is engine-internal). Distributed shape:
    one distinct (partial-agg groupBy) over narrow (type, hash) pairs,
    then a per-type top-k window on k=64 rows/group — the sketch
    merges associatively, so the same plan holds at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    h = F.pmod(
        F.lit(_KMV_A) * F.pmod(F.col("user_id").cast("bigint"), F.lit(_KMV_M))
        + F.lit(_KMV_B),
        F.lit(_KMV_M),
    )
    dh = ev.select("event_type", h.alias("_h")).distinct()
    w = Window.partitionBy("event_type").orderBy(F.col("_h").asc())
    ranked = dh.withColumn("_rn", F.row_number().over(w))
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_nd"),
        F.max(F.when(F.col("_rn") <= _KMV_K, F.col("_h"))).alias("_kth"),
    )
    est = F.when(
        F.col("_nd") >= _KMV_K,
        F.lit(float(_KMV_K - 1) * _KMV_M) / F.col("_kth"),
    ).otherwise(F.col("_nd").cast("double"))
    return agg.select("event_type", est.alias("kmv_users"))


@query(
    "global_top10_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def global_top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 sort/limit — global top-k. Spark plans orderBy+limit as
    TakeOrderedAndProject: per-partition top-10 then a single driver
    merge, never a full global sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "shipping_priority_top10",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4)) *
                    (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: multi-join + agg + global top-k. customer is
    broadcast (dimension); orders x lineitem share the orderkey so AQE
    plans one shuffle on it; final top-10 via TakeOrdered."""
    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    price_d = F.col("l_extendedprice").cast("decimal(14,4)")
    disc_d = F.col("l_discount").cast("decimal(6,4)")
    joined = (
        orders.join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(price_d * (F.lit(1) - disc_d)).cast("double").alias("revenue")
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 — dynamic PIVOT (long->wide): per-user counts by event
    type. Values are enumerated explicitly so the pivot is one pass
    with partial aggregation (a values-less pivot needs an extra
    distinct job to discover columns — avoid at scale)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "skew_safe_event_counts",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           CAST(max(value) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
)
def skew_safe_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.3 skew pattern — two-stage SALTED aggregation: identical
    result to a plain groupBy (the oracle proves it), but a hot key is
    spread over 16 reducers in stage 1 and merged from 16 partial rows
    in stage 2. The pattern for extreme single-key skew at 100 TB."""
    from etl_inreach_spark.operators.relational import salted_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        {
            "n_events": (F.count(F.lit(1)), "sum"),
            "max_value": (F.max("value"), "max"),
        },
    )


@query(
    "order_stats_summary",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(min(o_totalprice) AS DOUBLE) AS min_price,
           CAST(max(o_totalprice) AS DOUBLE) AS max_price,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)
               AS sum_price,
           CAST(quantile_disc(CAST(o_totalprice AS DECIMAL(18,4)), 0.5) AS DOUBLE)
               AS median_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def order_stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 statistical aggregates: count/min/max/sum/discrete-median
    per group. Sum goes through DECIMAL for order-insensitive digits;
    the median is the DISCRETE lower-middle element (quantile_disc) —
    an actual data value, so both engines agree exactly, where
    interpolated medians differ between engines (Spark interpolates,
    DuckDB's decimal median does not)."""
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,4)")
    per_group = Window.partitionBy("o_orderpriority")
    ranked = o.select("o_orderpriority", dec.alias("_p")).select(
        "o_orderpriority",
        "_p",
        F.row_number().over(per_group.orderBy("_p")).alias("_rn"),
        F.count(F.lit(1)).over(per_group).alias("_n"),
    )
    medians = ranked.filter(
        F.col("_rn") == F.ceil(F.col("_n") / 2)
    ).select("o_orderpriority", F.col("_p").cast("double").alias("median_price"))
    stats = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        F.sum(dec).cast("decimal(18,4)").cast("double").alias("sum_price"),
    )
    return stats.join(medians, "o_orderpriority").select(
        "o_orderpriority", "n", "min_price", "max_price", "sum_price", "median_price"
    )


@query(
    "full_outer_nation_activity",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
               FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
)
def full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 joins — FULL OUTER reconciliation of two aggregates
    (nations with customers but no suppliers and vice versa survive
    with zero-filled counts). Both sides pre-aggregate before the
    join, so the shuffle carries one row per nation."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


@query(
    "unpivot_order_flags",
    oracle="""
    SELECT o_orderkey, metric, val FROM (
        SELECT o_orderkey,
               CAST(o_totalprice AS DOUBLE) AS totalprice,
               CAST(o_custkey AS DOUBLE) AS custkey
        FROM orders
    ) UNPIVOT (val FOR metric IN (totalprice, custkey))
    """,
)
def unpivot_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 — UNPIVOT/melt (wide->long): numeric order columns to
    (key, metric, value) rows. Pure narrow generator, no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
        .unpivot("o_orderkey", ["totalprice", "custkey"], "metric", "val")
    )


@query(
    "sliding_1h_user_activity",
    oracle="""
    SELECT event_id, user_id, ts,
           count(*) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
               AS n_last_hour
    FROM events
    """,
)
def sliding_1h_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 window functions — RANGE (value-based) frame: per-user
    event count over the trailing hour at each event. Value frames are
    the sliding-window primitive the reference's 30-min lookback
    generalizes to."""
    ev = load_table(spark, sf_dir, "events")
    # microsecond ordering: unix_timestamp would floor to seconds and
    # make sub-second neighbors spurious frame peers (oracle divergence)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id", "ts", F.count(F.lit(1)).over(w).alias("n_last_hour")
    )


# One ANSI-SQL text, two engines: runs verbatim under spark.sql (over
# catalog.register_views) AND as the DuckDB oracle — exercising the
# engine's SQL entry point (SURVEY.md §3.4) rather than the DataFrame
# DSL.
_ANSI_REVENUE_SQL = """
    SELECT n.n_name AS nation,
           count(*) AS n_orders,
           CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4))
                AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@query("sql_revenue_by_nation", oracle=_ANSI_REVENUE_SQL)
def sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.4 SQL entry point: the SAME ANSI text runs on spark.sql over
    registered temp views and on DuckDB — Catalyst plans it exactly
    like the DataFrame DSL (broadcast the nation dim, partial+final
    agg), proving the two surfaces are one engine."""
    from etl_inreach_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ANSI_REVENUE_SQL)


@query(
    "order_value_percentiles",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(o_totalprice AS DOUBLE)) AS p50,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY CAST(o_totalprice AS DOUBLE)) AS p90,
           percentile_cont(0.99) WITHIN GROUP (ORDER BY CAST(o_totalprice AS DOUBLE)) AS p99
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 aggregation — EXACT ordered-set percentiles
    (percentile_cont semantics: linear interpolation between closest
    ranks) per order priority. Both engines interpolate as
    lo + frac*(hi-lo) over doubles, so values hash-match bit-for-bit.
    Exact percentile is a sort-based aggregate (per-group value
    buffer); at 100 TB the same query shape swaps in
    approx_percentile (t-digest sketch, partial-agg) — the KMV/HLL
    trade recorded at approx_distinct_users applies verbatim."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile(price, F.lit(0.5)).alias("p50"),
        F.percentile(price, F.lit(0.9)).alias("p90"),
        F.percentile(price, F.lit(0.99)).alias("p99"),
    )


@query(
    "mode_ship_month",
    oracle="""
    SELECT l_returnflag, ship_month AS top_month, n FROM (
        SELECT l_returnflag,
               CAST(month(l_shipdate) AS BIGINT) AS ship_month,
               CAST(COUNT(*) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY COUNT(*) DESC,
                                           CAST(month(l_shipdate) AS BIGINT) ASC) AS rn
        FROM lineitem
        GROUP BY 1, 2
    ) WHERE rn = 1
    """,
)
def mode_ship_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 aggregation — per-group MODE (most frequent value) with a
    DETERMINISTIC tie-break (smallest value wins), because engine-native
    mode() tie-breaks are arbitrary and would never hash-match. Shape:
    two-level partial-agg count (shuffle ~ |flag x shipmode| groups)
    then a window over those few rows — the scalable mode rendering
    (never a per-row window over the raw table)."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag", F.month("l_shipdate").cast("bigint").alias("ship_month")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("ship_month").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("ship_month").alias("top_month"), "n")
    )


@query("approx_order_percentiles")
def approx_order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB rendering of order_value_percentiles:
    approx_percentile is a mergeable quantile sketch, so the aggregate
    is partial+final (shuffle ~ |groups| sketches) instead of a
    per-group sorted value buffer. Sketch internals are
    engine-specific, so like approx_distinct_users this entry is
    rows-only for the driver; pytest pins each approximate quantile
    within rel-error of the exact companion's value
    (tests/test_relational.py::test_approx_percentiles_near_exact)."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_percentile(price, F.lit(0.5), F.lit(10000)).alias("p50"),
        F.approx_percentile(price, F.lit(0.9), F.lit(10000)).alias("p90"),
        F.approx_percentile(price, F.lit(0.99), F.lit(10000)).alias("p99"),
    )


@query(
    "salted_skew_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, CAST(e.value AS DOUBLE) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 joins — skew-safe salted equi-join
    (operators/relational.salted_join): big side salted
    deterministically, small side replicated per salt, join on
    (key, salt). The oracle is the PLAIN join — proving salt
    invariance, the operator's whole contract."""
    from etl_inreach_spark.operators.relational import salted_join

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    out = salted_join(ev, cust, salt_buckets=8)
    return out.select(
        "event_id", "user_id", "c_name", F.col("value").cast("double").alias("value")
    )


@query(
    "session_window_native",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1
                    ELSE 0 END AS is_new
        FROM (
            SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events
        )
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 session windows — Spark's NATIVE session_window aggregate
    (the one that also runs under Structured Streaming with state),
    complementing the lag+cumsum rendering of sessionize_events:
    session_end is last-event + gap by definition. The oracle derives
    identical bounds from the gap/cumsum construction, pinning the two
    renderings to each other across engines."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def funnel_steps(ev: DataFrame) -> DataFrame:
    """Ordered-funnel core (view -> click -> purchase), shared by the
    query and its semantics test: for each step, the earliest event of
    that type STRICTLY AFTER the previous step's timestamp (ties don't
    advance). Output: user_id, t_<step> per step, reached (0..3)."""
    steps = ("view", "click", "purchase")

    def one(event_type: str, after: DataFrame | None, prev_col: str | None, out: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == event_type)
        if after is not None:
            e = e.join(after, "user_id").filter(F.col("ts") > F.col(prev_col))
        return e.groupBy("user_id").agg(F.min("ts").alias(out))

    cols = [f"t_{s}" for s in steps]
    dfs: list[DataFrame] = []
    for i, s in enumerate(steps):
        dfs.append(one(s, dfs[i - 1] if i else None, cols[i - 1] if i else None, cols[i]))
    out = ev.select("user_id").distinct()
    for d in dfs:
        out = out.join(d, "user_id", "left")
    reached = F.lit(0)
    for i, c in enumerate(cols):
        reached = F.when(F.col(c).isNotNull(), F.lit(i + 1)).otherwise(reached)
    return out.select(
        "user_id", *cols, reached.cast("bigint").alias("reached")
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT u.user_id, t_view, t_click, t_purchase,
           CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                     WHEN t_click IS NOT NULL THEN 2
                     WHEN t_view IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS reached
    FROM u
    LEFT JOIN v USING (user_id)
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase) per user: each step's
    timestamp is the earliest event of that type STRICTLY AFTER the
    previous step (ties don't advance the funnel). Three filtered
    min-aggregations chained by user_id equi-joins — each step's scan
    pushes its event_type predicate into the source, every shuffle is
    keyed on user_id and carries one row per user, so at 100 TB the
    cost is three pruned scans + |users|-sized joins. The standard
    product-analytics primitive the reference's event stream invites."""
    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(ev)


@query(
    "asof_next_purchase_after_click",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           (SELECT min(p.ts) FROM events p
            WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
              AND p.ts >= c.ts
           ) AS next_purchase_ts
    FROM events c
    WHERE c.event_type = 'click'
    """,
)
def asof_next_purchase_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 as-of join, FORWARD direction — for each click, the
    earliest purchase at-or-after it by the same user (time-to-convert
    attribution; the mirror of asof_last_click_before_purchase and the
    forward generalization of the reference's closest-report pairing,
    task.ts:151-159). Same union + one-window rendering as backward
    (operators/relational.asof_join): one shuffle on user_id, the
    timeline walked in reverse so `last(ignorenulls)` carries the
    earliest >= purchase — no per-row range probe at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    out = asof_join(clicks, purchases, direction="forward")
    return out.select(
        "event_id", "user_id", "ts", F.col("asof_ts").alias("next_purchase_ts")
    )


@query(
    "interval_overlap_order_windows",
    oracle="""
    WITH iv AS (
        SELECT o_orderkey AS k, o_orderpriority AS pri,
               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s,
               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                 + o_orderkey % 14 AS e
        FROM orders
        WHERE o_orderdate >= DATE '2000-01-01' AND o_orderdate < DATE '2000-04-01'
    )
    SELECT a.pri AS l_priority, b.pri AS r_priority,
           COUNT(*) AS n_pairs,
           CAST(SUM(least(a.e, b.e) - greatest(a.s, b.s) + 1) AS BIGINT)
               AS sum_overlap_days
    FROM iv a JOIN iv b
      ON a.s <= b.e AND b.s <= a.e AND a.k < b.k
    GROUP BY l_priority, r_priority
    """,
)
def interval_overlap_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 joins — interval OVERLAP join with NO equi key: pairs of
    Q1-2000 order fulfilment windows ([orderdate, orderdate + 0..13d],
    length varied deterministically by orderkey) that intersect in
    time, aggregated to pair counts + total overlap days per priority
    pair. The oracle is the naive cross-join filter (fine at sf0.01);
    the Spark side is operators/relational.interval_overlap_join —
    band bucketing (band=16 ~ max interval length, so intervals span
    O(1) buckets) turns the theta join into an equi-join on bucket id
    with a canonical-bucket dedup, keeping the plan off
    broadcast-nested-loop at 100 TB. Each unordered pair is counted
    once via k_l < k_r; bounds are integral epoch days."""
    from etl_inreach_spark.operators.relational import interval_overlap_join

    iv = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("2000-01-01"))
            & (F.col("o_orderdate") < F.lit("2000-04-01"))
        )
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("pri"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("s"),
        )
        .withColumn("e", F.col("s") + F.col("k") % 14)
    )
    left = iv.select(
        F.col("k").alias("k_l"),
        F.col("pri").alias("l_priority"),
        F.col("s").alias("ls"),
        F.col("e").alias("le"),
    )
    right = iv.select(
        F.col("k").alias("k_r"),
        F.col("pri").alias("r_priority"),
        F.col("s").alias("rs"),
        F.col("e").alias("re"),
    )
    pairs = interval_overlap_join(left, right, band=16)
    return (
        pairs.filter(F.col("k_l") < F.col("k_r"))
        .groupBy("l_priority", "r_priority")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.least("le", "re") - F.greatest("ls", "rs") + F.lit(1)
            ).alias("sum_overlap_days"),
        )
    )


# Shared SQL text for the recursive nation-chain walk: Spark 4's
# WITH RECURSIVE and DuckDB's accept the identical statement, so the
# oracle IS the query — the strongest possible parity pin for the
# iterative-plan surface (Spark executes it as a driver-coordinated
# UnionLoop; each step is a distributed hash join).
_NATION_EDGES_SQL = """
    SELECT n_regionkey, n_nationkey AS src,
           LEAD(n_nationkey) OVER (
               PARTITION BY n_regionkey ORDER BY n_nationkey) AS dst
    FROM nation
"""

_NATION_CHAIN_SQL = """
    WITH RECURSIVE edges AS (
        SELECT n_regionkey, n_nationkey AS src,
               LEAD(n_nationkey) OVER (
                   PARTITION BY n_regionkey ORDER BY n_nationkey) AS dst
        FROM nation
    ), chain AS (
        SELECT CAST(n_regionkey AS BIGINT) AS region_key,
               CAST(MIN(src) AS BIGINT) AS nation_key,
               CAST(0 AS BIGINT) AS depth
        FROM edges GROUP BY n_regionkey
        UNION ALL
        SELECT /*+ BROADCAST(e) */
               c.region_key, CAST(e.dst AS BIGINT) AS nation_key,
               c.depth + 1 AS depth
        FROM chain c
        JOIN edges e
          ON e.n_regionkey = c.region_key AND e.src = c.nation_key
        WHERE e.dst IS NOT NULL
    )
    SELECT region_key, nation_key, depth FROM chain
"""


@query("recursive_nation_chain", oracle=_NATION_CHAIN_SQL)
def recursive_nation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 SQL surface — recursive CTE (new in Spark 4): walk each
    region's nation chain (nations linked in n_nationkey order by a
    window LEAD) from the region head, emitting (region, nation,
    depth). Exercises the iterative UnionLoop plan: anchor = one hash
    agg, each step = one equi-join of the frontier against the edge
    relation, terminating when a step yields zero rows — the same
    frontier-join shape as the label-propagation CC operator, but
    expressed declaratively. The oracle is the IDENTICAL statement run
    by DuckDB (the BROADCAST hint rides in a standard block comment,
    which DuckDB parses and ignores; on Spark it removes a per-step
    shuffle of the frontier — 4.5 -> 2.6 s at sf0.1, the residual
    being fixed per-iteration job scheduling, not data). Scale note:
    recursion depth is bounded by the longest
    chain (data-dependent); for unbounded-depth graphs at 100 TB use
    the log-diameter star-contraction operator instead
    (operators/dedup.py) — linear chains are the recursive CTE's
    worst case and the doc says so rather than hiding it.

    The Spark side materializes the ``edges`` CTE ONCE as a driver-
    LOCAL relation behind a temp view (r12): UnionLoop re-evaluates
    non-recursive CTEs referenced inside the loop on EVERY step, so
    the uncheckpointed form re-ran the nation scan + LEAD window per
    step — 41 driver jobs for a 25-row table — and even a
    localCheckpoint still paid a broadcast-BUILD job per step to ship
    the pinned 25 rows (32 jobs). Nation is a fixed 25-row dimension
    at every TPC-H scale factor, so collecting the edge list once is
    the library's bounded-collect class (same as the nlist-bounded
    centroid collects); each step's BROADCAST side then comes off a
    LocalRelation, which Spark builds driver-side with no job at all.
    The oracle keeps the single-statement form (DuckDB evaluates the
    CTE once anyway), and the edges relation is deterministic, so the
    results are identical by construction.

    The recursion runs on a CLONED session (same SparkContext, own
    conf) with AQE off (r12): AQE re-plans and stage-materializes
    INSIDE every UnionLoop step, so the 6-iteration walk paid ~4 jobs
    per step of pure scheduling overhead for a plan whose only join
    is a hinted broadcast against 25 local rows — runtime re-planning
    has nothing to decide at ANY scale here, because the recursion's
    per-step relation is the frontier (bounded by the chain width),
    not the corpus. Driver job count 33 -> 25 measured; the clone
    scopes the conf to this query's DataFrame without touching the
    caller's session. Deep-recursion workloads over big frontiers
    should keep AQE on — and per the module note should prefer the
    log-diameter CC operator anyway."""
    rec = spark.newSession()
    tune(rec)
    rec.conf.set("spark.sql.adaptive.enabled", "false")
    load_table(rec, sf_dir, "nation").createOrReplaceTempView("nation")
    # VALUES, not createDataFrame: PySpark's createDataFrame
    # parallelizes even 25 rows into an RDD-backed relation, so every
    # step's broadcast build was still a (32-partition!) collect job;
    # a VALUES relation is a true LocalRelation whose broadcast is
    # built driver-side with no job (measured 6.7 -> 1.2 s min-of-3,
    # same 25-job count, the remaining jobs being the UnionLoop's own
    # per-step materializations).
    def _lit(v: object) -> str:
        return "CAST(NULL AS INT)" if v is None else f"CAST({int(v)} AS INT)"

    vals = ",".join(
        f"({_lit(r['n_regionkey'])},{_lit(r['src'])},{_lit(r['dst'])})"
        for r in rec.sql(_NATION_EDGES_SQL).collect()
    )
    rec.sql(
        f"SELECT * FROM VALUES {vals} AS t(n_regionkey, src, dst)"
    ).createOrReplaceTempView("nation_chain_edges")
    return rec.sql(
        _NATION_CHAIN_SQL.replace(
            """edges AS (
        SELECT n_regionkey, n_nationkey AS src,
               LEAD(n_nationkey) OVER (
                   PARTITION BY n_regionkey ORDER BY n_nationkey) AS dst
        FROM nation
    ), chain AS (""",
            "chain AS (",
        ).replace("JOIN edges e", "JOIN nation_chain_edges e")
        .replace("FROM edges GROUP BY", "FROM nation_chain_edges GROUP BY")
    )


_LATERAL_TOP2_SQL = """
    SELECT n.n_name,
           CAST(x.c_custkey AS BIGINT) AS c_custkey,
           x.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_custkey, c_acctbal
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey ASC
        LIMIT 2
    ) x
"""


@query("lateral_top2_customers", oracle=_LATERAL_TOP2_SQL)
def lateral_top2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 SQL surface — correlated LATERAL subquery with ORDER BY +
    LIMIT (Spark 4 lateral join): the two highest-balance customers
    per nation, written the way an analyst ports it from Postgres.
    Catalyst decorrelates the lateral into a ranked window over a
    hash join (no per-nation re-scan), i.e. the same physical plan as
    the explicit row_number rendering in top3_orders_per_customer —
    this query pins that the DECLARATIVE form is accepted and planned
    without a nested loop. Oracle: the identical statement on DuckDB
    (deterministic tie-break on c_custkey; c_acctbal emitted raw, no
    arithmetic, so doubles are bit-identical parquet values)."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_TOP2_SQL)


_NULL_SAFE_JOIN_SQL = """
    WITH l AS (
        SELECT event_id, nullif(user_id % 7, 3) AS k FROM events
    ), r AS (
        SELECT nullif(x, 3) AS k, x AS bucket
        FROM (SELECT DISTINCT user_id % 7 AS x FROM events) t
    )
    SELECT r.bucket,
           CAST(COUNT(l.event_id) AS BIGINT) AS n_events
    FROM r JOIN l ON l.k <=> r.k
    GROUP BY r.bucket
"""


@query(
    "null_safe_join_buckets",
    oracle=_NULL_SAFE_JOIN_SQL.replace("<=>", "IS NOT DISTINCT FROM"),
)
def null_safe_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 SQL surface — NULL-safe equality join (`<=>`, DuckDB
    spelling `IS NOT DISTINCT FROM`): bucket 3 is nulled on BOTH
    sides, and the null-safe predicate still matches those rows where
    a plain `=` would silently drop the whole bucket — the classic
    silent-data-loss corner when a fact key is nullable. Catalyst
    plans `<=>` as an ordinary hash join (EqualNullSafe is a valid
    hash key), NOT a nested loop — that is the behavior this query
    pins, alongside exact count parity with DuckDB's spelling. At
    100 TB the only caveat is that a nullable key concentrates every
    NULL into one hash partition — the registry's salting operator
    (salted_skew_join) is the mitigation when NULLs are hot."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_NULL_SAFE_JOIN_SQL)


_NOT_IN_SQL = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE nullif(o_custkey % 1000, 13) NOT IN (
        SELECT c_custkey % 100 FROM customer WHERE c_acctbal > 0
    )
    GROUP BY o_orderpriority
"""


@query("not_in_null_semantics", oracle=_NOT_IN_SQL)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 SQL surface — NOT IN with a NULLABLE probe column: rows
    whose probe is NULL must be DROPPED (x NOT IN S is NULL, never
    true, when x is NULL), which a naive anti-join rendering gets
    wrong. Spark plans this as a null-aware anti join (broadcast
    NAAJ); the oracle is the IDENTICAL statement on DuckDB, so the
    three-valued-logic corner is value-pinned, not assumed. The inner
    side here is NULL-free by construction — if it contained a NULL
    the result would be empty on both engines (any x NOT IN
    {..., NULL} is never true), a second corner documented rather
    than exercised because an all-empty result would make the row
    gate vacuous."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_NOT_IN_SQL)


_BAG_SET_OPS_SQL = """
    WITH a AS (
        SELECT o_custkey AS k FROM orders WHERE year(o_orderdate) = 1997
    ), b AS (
        SELECT o_custkey AS k FROM orders WHERE year(o_orderdate) = 1998
    ), i AS (
        SELECT k FROM a INTERSECT ALL SELECT k FROM b
    ), e AS (
        SELECT k FROM a EXCEPT ALL SELECT k FROM b
    )
    SELECT 'intersect_all' AS op, k,
           CAST(COUNT(*) AS BIGINT) AS multiplicity
    FROM i GROUP BY k
    UNION ALL
    SELECT 'except_all' AS op, k,
           CAST(COUNT(*) AS BIGINT) AS multiplicity
    FROM e GROUP BY k
"""


@query("set_ops_bag_semantics", oracle=_BAG_SET_OPS_SQL)
def set_ops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 set operations — the ALL (bag/multiset) variants the
    existing set_ops_* queries deliberately avoid: INTERSECT ALL keeps
    min(multiplicity_a, multiplicity_b) copies per key and EXCEPT ALL
    keeps max(0, a - b), which collapse to the wrong answer if an
    engine silently deduplicates (the DISTINCT variants would hide
    that). One customer ordering 3x in 1997 and 1x in 1998 must
    appear with multiplicity 1 in the intersection and 2 in the
    difference. The oracle is the IDENTICAL statement on DuckDB.
    Catalyst plans both as single hash aggregations counting
    per-side multiplicities — no join explosion, shuffle keyed on k."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_BAG_SET_OPS_SQL)


_QUANTILE_PCTS = (25, 50, 75, 90, 99)


@query(
    "exact_quantile_rankselect",
    oracle=f"""
    WITH c AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM orders
    ), t AS (
        SELECT CAST(unnest({list(_QUANTILE_PCTS)}) AS BIGINT) AS pct
    ), r AS (
        SELECT pct, (pct * n + 99) // 100 AS rank FROM t, c
    ), s AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v,
               row_number() OVER (ORDER BY o_totalprice) AS rn
        FROM orders
    )
    SELECT pct, rank, s.v AS value
    FROM r JOIN s ON s.rn = r.rank
    """,
)
def exact_quantile_rankselect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order-statistic selection (percentile_disc semantics:
    the element at rank ceil(p*n), spelled in exact integers as
    (pct*n + 99) // 100 so no floating p*n boundary can flip the
    rank) WITHOUT a global sort and WITHOUT the single per-group
    sort buffer of F.percentile — the 100 TB path for exact
    quantiles that order_value_percentiles documents as its own
    limit.

    Two-phase rank selection: (1) a fixed-width value histogram —
    bucket = floor(price/1000), one map-side-combining groupBy whose
    result is bounded by VALUE RANGE / width (~600 buckets for any
    TPC-H scale, a broadcastable relation, so the cumulative window
    over it is bounded by construction, the global_row_index
    level-2 discipline); (2) only the <=5 buckets that contain a
    target rank are re-scanned, each sorted LOCALLY (a per-bucket
    window over ~n/600 rows), and the row at the residual rank
    (rank - cum_before_bucket) is the answer. Total cost: one
    histogram pass + one filtered pass over ~5/600ths of the data —
    vs a full shuffle sort. Ties need no tiebreak: any row at the
    rank carries the same VALUE. The oracle replays the semantics
    naively (full sort, pick rank) — equal output pins the
    distributed selection exactly."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v")
    )
    bucketed = o.select(
        "v", F.floor(F.col("v") / F.lit(1000.0)).cast("bigint").alias("b")
    )
    hist = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("cnt"))
    # histogram is range/width-bounded (~600 rows): the unpartitioned
    # running-sum window is over the HISTOGRAM, never the data
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "b", "cnt", F.sum("cnt").over(wcum).alias("cum")
    ).withColumn("cum_before", F.col("cum") - F.col("cnt"))
    n = o.agg(F.count(F.lit(1)).alias("n"))
    targets = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(p) for p in _QUANTILE_PCTS])
            ).alias("_pct")
        )
        .select(F.col("_pct").cast("bigint").alias("pct"))
        .crossJoin(F.broadcast(n))
        .select(
            "pct",
            F.expr("(pct * n + 99) div 100").alias("rank"),
        )
    )
    # tiny x tiny: 5 targets x ~600 histogram rows
    tb = targets.join(
        F.broadcast(cum),
        (F.col("cum") >= F.col("rank")) & (F.col("cum_before") < F.col("rank")),
    ).select("pct", "rank", "b", "cum_before")
    # partition by (b, pct): two targets landing in the same bucket
    # must each rank their OWN copy of the bucket's rows
    wloc = Window.partitionBy("b", "pct").orderBy("v")
    hits = (
        bucketed.join(F.broadcast(tb), "b")
        .withColumn("rn", F.row_number().over(wloc))
        .filter(F.col("rn") == F.col("rank") - F.col("cum_before"))
    )
    return hits.select("pct", "rank", F.col("v").alias("value"))


_GQ_PCTS = (50, 90, 99)


@query(
    "grouped_quantile_rankselect",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ), t AS (
        SELECT CAST(unnest({list(_GQ_PCTS)}) AS BIGINT) AS pct
    ), r AS (
        SELECT grp, pct, (pct * n + 99) // 100 AS rank FROM c, t
    ), s AS (
        SELECT o_orderpriority AS grp, CAST(o_totalprice AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice) AS rn
        FROM orders
    )
    SELECT r.grp, pct, rank, s.v AS value
    FROM r JOIN s ON s.grp = r.grp AND s.rn = r.rank
    """,
)
def grouped_quantile_rankselect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT percentile_disc (p50/p90/p99 of order value per
    priority) via rank selection — the grouped form is where
    F.percentile's per-group sort buffer actually bites at 100 TB
    (one executor materializes every value of the hottest group).
    Same two-phase discipline as exact_quantile_rankselect, keyed by
    group: per-(group, bucket) histogram (map-side combine), a
    cumulative window PARTITIONED BY GROUP over the histogram (each
    partition <= range/width ~600 rows regardless of data volume),
    exact integer ranks ceil(p*n_g) per group, then a local
    row_number over only the (group, bucket) cells that contain a
    target rank. No per-group value buffer ever exists; skewed group
    sizes cost one histogram row, not memory. Oracle = per-group
    full sort + pick rank."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("v"),
    )
    bucketed = o.select(
        "grp", "v", F.floor(F.col("v") / F.lit(1000.0)).cast("bigint").alias("b")
    )
    hist = bucketed.groupBy("grp", "b").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "grp", "b", "cnt", F.sum("cnt").over(wcum).alias("cum")
    ).withColumn("cum_before", F.col("cum") - F.col("cnt"))
    n = o.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    targets = (
        n.crossJoin(
            spark.range(1)
            .select(
                F.explode(
                    F.array(*[F.lit(p) for p in _GQ_PCTS])
                ).alias("_pct")
            )
            .select(F.col("_pct").cast("bigint").alias("pct"))
        )
        .select("grp", "pct", F.expr("(pct * n + 99) div 100").alias("rank"))
    )
    tb = targets.join(
        F.broadcast(cum),
        ["grp"],
    ).filter(
        (F.col("cum") >= F.col("rank")) & (F.col("cum_before") < F.col("rank"))
    ).select("grp", "pct", "rank", "b", "cum_before")
    wloc = Window.partitionBy("grp", "b", "pct").orderBy("v")
    hits = (
        bucketed.join(F.broadcast(tb), ["grp", "b"])
        .withColumn("rn", F.row_number().over(wloc))
        .filter(F.col("rn") == F.col("rank") - F.col("cum_before"))
    )
    return hits.select("grp", "pct", "rank", F.col("v").alias("value"))


_WQ_PCTS = (50, 90, 99)


@query(
    "revenue_weighted_quantile",
    oracle=f"""
    WITH o AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v,
               CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                    AS BIGINT) AS cents
        FROM orders
    ), tot AS (
        SELECT CAST(sum(cents) AS BIGINT) AS total FROM o
    ), t AS (
        SELECT CAST(unnest({list(_WQ_PCTS)}) AS BIGINT) AS pct
    ), r AS (
        SELECT pct, (pct * total + 99) // 100 AS threshold FROM t, tot
    ), s AS (
        SELECT v, sum(cents) OVER (ORDER BY v, cents
                 ROWS UNBOUNDED PRECEDING) AS running
        FROM o
    ), x AS (
        SELECT r.pct, r.threshold, s.v, s.running,
               row_number() OVER (PARTITION BY r.pct ORDER BY s.running)
                   AS k
        FROM r JOIN s ON s.running >= r.threshold
    )
    SELECT pct, threshold, v AS value FROM x WHERE k = 1
    """,
)
def revenue_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED quantiles — the Lorenz-curve crossing points: the
    smallest order value v such that orders priced <= v carry at
    least p% of TOTAL revenue (p = 50/90/99). The weight is the
    value itself in exact integer cents (floor(v*100 + 0.5) — the
    same correctly-rounded double expression on both engines), so
    every cumulative sum is exact int64 and the crossing is an
    integer comparison, never a float ULP call.

    Same two-phase rank-selection discipline as
    exact_quantile_rankselect but over cumulative WEIGHT: the
    range-bounded histogram aggregates sum(cents) per bucket, the
    cumulative window runs over the ~600-row histogram only, and
    only the <=|pcts| buckets containing a crossing re-scan with a
    per-bucket running sum. Within a bucket the running sum orders
    by (v, cents) — rows with equal v are interchangeable for the
    crossing VALUE, so the answer is deterministic even though their
    relative order is not. The oracle is the naive full-sort running
    sum. At 100 TB: histogram stays range/width-bounded, the
    re-scanned fraction is ~|pcts| buckets, no global sort exists."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v")
    ).select(
        "v",
        F.floor(F.col("v") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    bucketed = o.withColumn(
        "b", F.floor(F.col("v") / F.lit(1000.0)).cast("bigint")
    )
    hist = bucketed.groupBy("b").agg(F.sum("cents").alias("w"))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "b", "w", F.sum("w").over(wcum).alias("cum")
    ).withColumn("cum_before", F.col("cum") - F.col("w"))
    tot = o.agg(F.sum("cents").alias("total"))
    targets = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(p) for p in _WQ_PCTS])
            ).alias("_pct")
        )
        .select(F.col("_pct").cast("bigint").alias("pct"))
        .crossJoin(F.broadcast(tot))
        .select(
            "pct", F.expr("(pct * total + 99) div 100").alias("threshold")
        )
    )
    tb = targets.join(
        F.broadcast(cum),
        (F.col("cum") >= F.col("threshold"))
        & (F.col("cum_before") < F.col("threshold")),
    ).select("pct", "threshold", "b", "cum_before")
    wloc = (
        Window.partitionBy("b", "pct")
        .orderBy("v", "cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hits = (
        bucketed.join(F.broadcast(tb), "b")
        .withColumn("running", F.col("cum_before") + F.sum("cents").over(wloc))
        .filter(F.col("running") >= F.col("threshold"))
    )
    wmin = Window.partitionBy("pct").orderBy("running")
    return (
        hits.withColumn("k", F.row_number().over(wmin))
        .filter(F.col("k") == 1)
        .select("pct", "threshold", F.col("v").alias("value"))
    )

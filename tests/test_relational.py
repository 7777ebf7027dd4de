"""Relational operator tests: as-of join vs a naive per-row oracle,
anchored time-window filter, sessionization."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.relational import asof_join, filter_recent
from etl_inreach_spark.operators.windows import sessionize

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "u", ts(10)), (2, "u", ts(5)), (3, "u", ts(0)), (4, "v", ts(10))],
        "id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", ts(5)), ("u", ts(9)), ("v", ts(11))],
        "user_id string, ts timestamp",
    )
    out = {r["id"]: r["asof_ts"] for r in asof_join(left, right).collect()}
    assert out[1] == ts(9)   # latest at-or-before
    assert out[2] == ts(5)   # exact-tie match counts (<=)
    assert out[3] is None    # nothing before
    assert out[4] is None    # right row is after left
    assert len(out) == 4     # left-preserving


def test_asof_join_matches_naive_on_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts")
    fast = asof_join(purchases, clicks)
    # naive: theta join + argmax (correct but O(n*m) per key — the thing
    # the union+window implementation exists to avoid)
    naive = (
        purchases.alias("p")
        .join(
            clicks.alias("c"),
            (F.col("p.user_id") == F.col("c.user_id")) & (F.col("c.ts") <= F.col("p.ts")),
            "left",
        )
        .groupBy("p.event_id")
        .agg(F.max("c.ts").alias("asof_ts"))
    )
    got = {r["event_id"]: r["asof_ts"] for r in fast.select("event_id", "asof_ts").collect()}
    want = {r["event_id"]: r["asof_ts"] for r in naive.collect()}
    assert got == want


def test_filter_recent_anchored(spark):
    df = spark.createDataFrame(
        [(1, ts(0)), (2, ts(50)), (3, ts(69)), (4, ts(80))], "id long, ts timestamp"
    )
    kept = sorted(r["id"] for r in filter_recent(df).collect())
    assert kept == [2, 3, 4]  # anchor = ts(80), cutoff = ts(50) inclusive


def test_sessionize_gap(spark):
    rows = [("u", ts(0), 0), ("u", ts(10), 1), ("u", ts(50), 2), ("u", ts(55), 3), ("v", ts(0), 4)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long")
    out = sessionize(df)
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got == {0: 1, 1: 1, 2: 2, 3: 2, 4: 1}


def test_tumbling_bucket_floors_pre_epoch(spark):
    from etl_inreach_spark.operators.windows import tumbling_bucket
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("1969-12-31 23:59:55",), ("1970-01-01 00:00:05",)], "t string"
    )
    got = [
        str(r["b"])
        for r in df.select(
            tumbling_bucket(F.to_timestamp("t"), 60).alias("b")
        ).collect()
    ]
    assert got == ["1969-12-31 23:59:00", "1970-01-01 00:00:00"]


def test_approx_percentiles_near_exact(spark, sf_dir):
    """The sketch path must track the exact ordered-set aggregate."""
    from etl_inreach_spark.queries import all_queries

    qs = all_queries()
    exact = {r["o_orderpriority"]: r for r in qs["order_value_percentiles"](spark, sf_dir).collect()}
    approx = {r["o_orderpriority"]: r for r in qs["approx_order_percentiles"](spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for k, e in exact.items():
        a = approx[k]
        assert a["n"] == e["n"]
        for q in ("p50", "p90", "p99"):
            assert abs(a[q] - e[q]) <= 0.02 * abs(e[q]) + 1e-9, (k, q, a[q], e[q])


def test_salted_join_matches_plain_join(spark, sf_dir):
    from etl_inreach_spark.catalog import load_table
    from etl_inreach_spark.operators.relational import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    plain = sorted(map(tuple, ev.join(cust, on="user_id").collect()))
    got = sorted(map(tuple, salted_join(ev, cust, salt_buckets=5).collect()))
    assert got == plain


def test_funnel_strictly_after_semantics(spark):
    """A later-step event at EXACTLY the previous step's timestamp
    must not advance the funnel (strict > in funnel_steps — the SAME
    code funnel_conversion runs, so a semantics change there fails
    here)."""
    import datetime

    from etl_inreach_spark.queries_relational import funnel_steps

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    t1 = datetime.datetime(2024, 1, 1, 11, 0, 0)
    rows = [
        # user 1: view@t0, click@t0 (tie - no advance), purchase@t1
        (1, t0, 1, "view"), (2, t0, 1, "click"), (3, t1, 1, "purchase"),
        # user 2: view@t0, click@t1 -> reaches 2
        (4, t0, 2, "view"), (5, t1, 2, "click"),
        # user 3: click before any view -> reaches 1 (view@t1 only)
        (6, t0, 3, "click"), (7, t1, 3, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        r["user_id"]: (r["t_view"], r["t_click"], r["t_purchase"], r["reached"])
        for r in funnel_steps(ev).collect()
    }
    assert out[1] == (t0, None, None, 1)  # tie click didn't advance; purchase needs click
    assert out[2] == (t0, t1, None, 2)
    assert out[3] == (t1, None, None, 1)  # click before first view ignored


def test_asof_join_forward(spark):
    """Forward as-of: earliest right row with ts >= left.ts; equal
    timestamps are visible; later-only lefts get NULLs."""
    from datetime import datetime

    from etl_inreach_spark.operators.relational import asof_join

    T = lambda m: datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, T(5)), (1, T(10)), (1, T(40)), (2, T(0))],
        "user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, T(10)), (1, T(30)), (2, T(0))],
        "user_id long, ts timestamp",
    )
    got = {
        (r["user_id"], r["ts"].minute, r["asof_ts"] and r["asof_ts"].minute)
        for r in asof_join(left, right, direction="forward").collect()
    }
    assert got == {
        (1, 5, 10),      # next right at :10
        (1, 10, 10),     # equal timestamp visible (>=)
        (1, 40, None),   # nothing after :40
        (2, 0, 0),
    }


def test_interval_overlap_join_matches_naive(spark):
    """Banded overlap join == naive cross-join filter, each pair once,
    across band widths that divide/straddle the intervals."""
    import random

    rng = random.Random(11)
    L = [(i, a, a + rng.randrange(0, 30)) for i, a in
         ((i, rng.randrange(0, 200)) for i in range(40))]
    R = [(j, a, a + rng.randrange(0, 30)) for j, a in
         ((j, rng.randrange(0, 200)) for j in range(40))]
    left = spark.createDataFrame(L, "lid long, ls long, le long")
    right = spark.createDataFrame(R, "rid long, rs long, re long")
    want = {
        (i, j)
        for i, a, b in L
        for j, c, d in R
        if a <= d and c <= b
    }
    from etl_inreach_spark.operators.relational import interval_overlap_join

    for band in (7, 16, 64):
        rows = interval_overlap_join(left, right, band).collect()
        got = [(r["lid"], r["rid"]) for r in rows]
        assert len(got) == len(set(got)), f"dup pairs at band={band}"
        assert set(got) == want, f"band={band}"


def test_interval_overlap_join_validates_inputs(spark):
    """band <= 0 (division-by-zero bucket ids) and endpoint names
    shared across sides (ambiguous references) fail fast."""
    import pytest

    from etl_inreach_spark.operators.relational import interval_overlap_join

    left = spark.createDataFrame([(1, 0, 10)], "lid long, ls long, le long")
    right = spark.createDataFrame([(2, 5, 15)], "rid long, rs long, re long")
    with pytest.raises(ValueError, match="band"):
        interval_overlap_join(left, right, 0)
    with pytest.raises(ValueError, match="band"):
        interval_overlap_join(left, right, -4)
    same = spark.createDataFrame([(3, 1, 2)], "rid long, ls long, le long")
    with pytest.raises(ValueError, match="distinct endpoint"):
        interval_overlap_join(left, same, 8)


def test_snapshot_diff_classes_and_null_semantics(spark):
    """insert/update/delete classification, including NULL-involved
    comparisons: NULL -> value and value -> NULL are updates,
    NULL -> NULL is unchanged (null-safe struct equality)."""
    from etl_inreach_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, None, 30), (4, "d", 40), (5, None, None)],
        "o_orderkey long, o_orderstatus string, o_totalprice long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),        # unchanged
         (2, "b", 20),        # NULL -> value: update
         (3, None, None),     # value -> NULL: update
         (5, None, None),     # NULL == NULL: unchanged
         (6, "f", 60)],       # insert; 4 deleted
        "o_orderkey long, o_orderstatus string, o_totalprice long",
    )
    got = {(r["o_orderkey"], r["change_type"]) for r in snapshot_diff(old, new).collect()}
    assert got == {(2, "update"), (3, "update"), (4, "delete"), (6, "insert")}

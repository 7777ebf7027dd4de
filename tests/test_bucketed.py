"""Bucketed-table layout (sinks/bucketed.py): the catalog-proven
co-partitioning must actually remove the exchanges, and results must
match the plain shuffled join."""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table


@contextlib.contextmanager
def _no_broadcast(spark):
    """Force a shuffle-eligible join so the exchange-elision claim is
    tested against the sort-merge path, not hidden by a broadcast.
    Restore discipline: unset confs that were never set (a None-keeping
    restore silently leaks the mutation into the shared session)."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextlib.contextmanager
def _tables(spark, *names):
    try:
        yield
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def _executed_plan(df) -> str:
    df.collect()  # materialize so AQE reports the final plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_elides_all_exchanges_and_matches_shuffled_join(spark, sf_dir):
    from etl_inreach_spark.sinks.bucketed import bucketed_equijoin, write_bucketed

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    ).withColumnRenamed("l_orderkey", "o_orderkey")

    t1 = f"b_orders_{uuid.uuid4().hex[:8]}"
    t2 = f"b_lineitem_{uuid.uuid4().hex[:8]}"
    with _tables(spark, t1, t2), _no_broadcast(spark):
        write_bucketed(o, t1, ["o_orderkey"], 8)
        write_bucketed(li, t2, ["o_orderkey"], 8)

        j = bucketed_equijoin(spark, t1, t2, ["o_orderkey"]).groupBy(
            "o_orderkey"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = _executed_plan(j)
        assert "Exchange" not in plan, plan
        # the scans actually use the bucket layout
        assert "Bucketed: true" in plan

        # and the result is the plain shuffled join's result
        expect = {
            (r["o_orderkey"], r["n"])
            for r in o.join(li, "o_orderkey")
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = {(r["o_orderkey"], r["n"]) for r in j.collect()}
        assert got == expect and len(got) > 0


def test_bucket_count_mismatch_still_correct_but_shuffles_one_side(spark, sf_dir):
    """The failure mode the docstring warns about: co-bucketing only
    elides both exchanges when counts line up; a mismatched side gets
    re-shuffled (or bucket-coalesced), never a wrong result."""
    from etl_inreach_spark.sinks.bucketed import bucketed_equijoin, write_bucketed

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    t1 = f"b_cust_{uuid.uuid4().hex[:8]}"
    t2 = f"b_ord_{uuid.uuid4().hex[:8]}"
    with _tables(spark, t1, t2), _no_broadcast(spark):
        write_bucketed(c, t1, ["c_custkey"], 8)
        write_bucketed(o, t2, ["c_custkey"], 4)
        j = bucketed_equijoin(spark, t1, t2, ["c_custkey"])
        n_bucketed = j.count()
        n_plain = c.join(o, "c_custkey").count()
        assert n_bucketed == n_plain > 0


def test_bucketed_groupby_on_bucket_key_is_exchange_free(spark, sf_dir):
    from etl_inreach_spark.sinks.bucketed import write_bucketed

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    t = f"b_events_{uuid.uuid4().hex[:8]}"
    with _tables(spark, t), _no_broadcast(spark):
        write_bucketed(ev, t, ["user_id"], 8)
        agg = spark.table(t).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = _executed_plan(agg)
        assert "Exchange" not in plan, plan


def test_lakehouse_fixtures_do_not_accumulate(spark, sf_dir):
    """ADVICE r7: repeated invocations of the lakehouse gates must
    reuse their scratch slots (one session root, emptied per call)
    and leave ZERO catalog tables behind — a long oracle sweep must
    not grow disk or the catalog."""
    import os

    from etl_inreach_spark import queries_lakehouse as L

    r1 = sorted(
        map(tuple, L.bucketed_join_revenue(spark, sf_dir).collect())
    )
    root = L._SCRATCH_ROOT
    assert root is not None
    entries_after_first = sorted(os.listdir(root))
    r2 = sorted(
        map(tuple, L.bucketed_join_revenue(spark, sf_dir).collect())
    )
    assert r1 == r2
    assert not [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("bjr_")
    ]
    # the second invocation must REUSE its slot, not add entries —
    # compare the whole root listing across invocations
    assert sorted(os.listdir(root)) == entries_after_first
    assert "bucketed" in entries_after_first

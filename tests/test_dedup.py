"""Unit + property tests for the keyed-argmax dedup operator — pins the
oracle traps from SURVEY.md §2.3 (tie-break, null-time-as-epoch-0)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from etl_inreach_spark.operators.dedup import latest_by_key, topk_by_key
from tests.references import latest_by_key_window

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def mk(spark, rows):
    return spark.createDataFrame(
        [Row(dev=d, ts=t, arrival=a, payload=p) for d, t, a, p in rows],
        schema="dev string, ts timestamp, arrival long, payload string",
    )


ROWS = [
    # later timestamp replaces
    ("a", T0, 0, "old"),
    ("a", T0 + dt.timedelta(minutes=5), 1, "new"),
    # equal timestamp: first-seen wins (strict > in task.ts:154)
    ("b", T0, 2, "first"),
    ("b", T0, 3, "second"),
    # null ts never replaces
    ("c", T0, 4, "timed"),
    ("c", None, 5, "nulled"),
    # null ts is replaced by anything
    ("d", None, 6, "nulled"),
    ("d", T0 - dt.timedelta(days=365), 7, "ancient"),
    # only-null key keeps the first-seen null row
    ("e", None, 8, "n1"),
    ("e", None, 9, "n2"),
]

EXPECT = {"a": "new", "b": "first", "c": "timed", "d": "ancient", "e": "n1"}


@pytest.mark.parametrize("impl", [latest_by_key, latest_by_key_window])
def test_reference_semantics(spark, impl):
    df = mk(spark, ROWS)
    got = {r["dev"]: r["payload"] for r in impl(df, ["dev"], "ts", arrival_col="arrival").collect()}
    assert got == EXPECT


@pytest.mark.parametrize("impl", [latest_by_key, latest_by_key_window])
def test_idempotent_and_one_row_per_key(spark, impl):
    df = mk(spark, ROWS)
    once = impl(df, ["dev"], "ts", arrival_col="arrival")
    twice = impl(once, ["dev"], "ts", arrival_col="arrival")
    assert sorted(once.collect()) == sorted(twice.collect())
    assert once.count() == df.select("dev").distinct().count()


def test_agg_and_window_agree_on_events(spark, sf_dir):
    from etl_inreach_spark.catalog import load_table
    ev = load_table(spark, sf_dir, "events")
    a = latest_by_key(ev, ["user_id"], "ts", arrival_col="event_id")
    b = latest_by_key_window(ev, ["user_id"], "ts", arrival_col="event_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_stability_under_repartition(spark):
    df = mk(spark, ROWS)
    base = sorted(map(tuple, latest_by_key(df, ["dev"], "ts", arrival_col="arrival").collect()))
    for n in (1, 7):
        got = sorted(
            map(tuple, latest_by_key(df.repartition(n), ["dev"], "ts", arrival_col="arrival").collect())
        )
        assert got == base


def test_topk_by_key(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_inreach_spark.catalog import load_table
    ev = load_table(spark, sf_dir, "events")
    top3 = topk_by_key(ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").asc()], 3)
    counts = top3.groupBy("user_id").count().collect()
    assert all(r["count"] <= 3 for r in counts)
    assert top3.filter("rnk = 1").count() == ev.select("user_id").distinct().count()


def test_connected_components_chain_and_islands(spark):
    """Chain a-b-c-d collapses to one component labeled by its min id;
    a disjoint pair and an untouched node-pair stay separate."""
    from etl_inreach_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (10, 11), (20, 21)], "id_a bigint, id_b bigint"
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {2: 2, 3: 2, 4: 2, 5: 2, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    """A 20-node path needs multiple propagation rounds (diameter
    bound) — exercises the fixpoint loop, not just one round."""
    from etl_inreach_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], "id_a bigint, id_b bigint"
    )
    rows = connected_components(edges).collect()
    assert {r["component"] for r in rows} == {1}
    assert len(rows) == 20

"""Misra–Gries heavy hitters: the survival guarantee and error bounds
must hold for any data and any partitioning, and the summary must be
exact when the key cardinality fits the counter budget."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.heavyhitters import heavy_hitters


def _check_bounds(rows, true_counts, k):
    n = sum(true_counts.values())
    got = {r["item"]: r["est_count"] for r in rows}
    assert all(r["n_total"] == n for r in rows)
    bound = n / (k + 1)
    for item, est in got.items():
        true = true_counts.get(item, 0)
        assert est <= true, (item, est, true)          # lower bound
        assert est + bound >= true, (item, est, true)  # error bound
    for item, true in true_counts.items():
        if true > bound:
            assert item in got, (item, true, bound, got)  # survival


def test_heavy_hitters_exact_when_cardinality_fits(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    true = Counter(r["event_type"] for r in ev.select("event_type").collect())
    rows = heavy_hitters(ev, "event_type", k=16).collect()
    # 5 distinct types, k=16 -> no truncation anywhere: exact counts
    assert {r["item"]: r["est_count"] for r in rows} == dict(true)


def test_heavy_hitters_bounds_small_k(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    true = Counter(r["event_type"] for r in ev.select("event_type").collect())
    rows = heavy_hitters(ev, "event_type", k=2).collect()
    _check_bounds(rows, true, 2)


def test_heavy_hitters_skewed_multipartition(spark):
    # one dominant key + a long tail, spread over many partitions
    data = [("hot",)] * 500 + [(f"t{i}",) for i in range(300)] * 2
    df = spark.createDataFrame(data, "v string").repartition(16)
    true = Counter(v for (v,) in data)
    k = 8
    rows = heavy_hitters(df, "v", k=k).collect()
    _check_bounds(rows, true, k)
    got = {r["item"] for r in rows}
    assert "hot" in got


def test_heavy_hitters_rejects_bad_k(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        heavy_hitters(ev, "event_type", 0)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(0, 12), min_size=1, max_size=200),
    k=st.integers(1, 6),
    parts=st.sampled_from([1, 3, 7]),
)
def test_heavy_hitters_property(spark, vals, k, parts):
    df = spark.createDataFrame([(v,) for v in vals], "v long").repartition(parts)
    true = Counter(vals)
    rows = heavy_hitters(df, "v", k=k).collect()
    _check_bounds(rows, true, k)

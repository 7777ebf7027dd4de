"""KMV set-operation sketches: exact parity with a straight-Python
replica of the hash/sketch/estimator arithmetic, the monoid merge law,
and accuracy sanity of the Jaccard/intersection estimates against the
true values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.kmv import (
    KMV_A,
    KMV_B,
    KMV_M,
    kmv_set_estimates,
    kmv_sketch,
)


def _py_hash(u: int) -> int:
    # fold-first grammar (Python % is already non-negative for M > 0)
    return (KMV_A * (u % KMV_M) + KMV_B) % KMV_M


def _py_sketch(keys, k):
    return sorted({_py_hash(u) for u in keys})[:k]


def _py_est(ks, k):
    return (k - 1) * KMV_M / ks[k - 1] if len(ks) >= k else float(len(ks))


def test_kmv_sketch_matches_python(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    users = [r["user_id"] for r in ev.select("user_id").distinct().collect()]
    k = 64
    got = kmv_sketch(ev, F.col("user_id"), k).first()["ks"]
    assert list(got) == _py_sketch(users, k)


def test_kmv_merge_is_union_sketch(spark, sf_dir):
    """Monoid law: the union estimate merged from per-part sketches
    equals the estimate of sketching the whole — the property that
    makes KMV incremental-MERGE state."""
    ev = load_table(spark, sf_dir, "events")
    k = 64
    a = kmv_sketch(ev.filter(F.col("event_id") % 2 == 0), F.col("user_id"), k)
    b = kmv_sketch(ev.filter(F.col("event_id") % 2 == 1), F.col("user_id"), k)
    whole = kmv_sketch(ev, F.col("user_id"), k)
    union = kmv_set_estimates(a, b, k).first()["union_est"]
    assert union == kmv_set_estimates(whole, whole, k).first()["distinct_a"]


def test_kmv_set_estimates_parity_and_accuracy(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = 256
    ua = {r["user_id"] for r in ev.filter(F.col("event_type") == "click").select("user_id").collect()}
    ub = {r["user_id"] for r in ev.filter(F.col("event_type") == "view").select("user_id").collect()}
    sa = kmv_sketch(ev.filter(F.col("event_type") == "click"), F.col("user_id"), k)
    sb = kmv_sketch(ev.filter(F.col("event_type") == "view"), F.col("user_id"), k)
    row = kmv_set_estimates(sa, sb, k).first()

    # exact parity with the Python replica
    ka, kb = _py_sketch(ua, k), _py_sketch(ub, k)
    km = sorted(set(ka) | set(kb))[:k]
    in_both = len(set(km) & set(ka) & set(kb))
    j_hat = in_both / len(km) if km else 0.0
    assert row["distinct_a"] == _py_est(ka, k)
    assert row["distinct_b"] == _py_est(kb, k)
    assert row["union_est"] == _py_est(km, k)
    assert row["jaccard_est"] == j_hat
    assert row["intersect_est"] == j_hat * _py_est(km, k)

    # accuracy sanity against the true sets (k=256 -> se ~ 1/16)
    true_j = len(ua & ub) / len(ua | ub)
    assert abs(row["jaccard_est"] - true_j) < 0.2
    assert abs(row["union_est"] - len(ua | ub)) / len(ua | ub) < 0.3
    assert abs(row["intersect_est"] - len(ua & ub)) / max(len(ua & ub), 1) < 0.5


def test_kmv_rejects_bad_k(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        kmv_sketch(ev, F.col("user_id"), 1)

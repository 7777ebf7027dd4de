"""Tests for operators/indexing.py: the distributed global row index
must equal the single-partition row_number, and negative sampling must
match a straight-Python replica of its hash arithmetic."""

from __future__ import annotations

import pytest

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.indexing import (
    global_row_index,
    negative_sample,
)
from etl_inreach_spark.operators.sampling import HASH_MOD, HASH_MULT


def test_global_row_index_is_dense_and_ordered(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: r["row_index"]
        for r in global_row_index(d, "doc_id").collect()
    }
    ids = sorted(got)
    assert sorted(got.values()) == list(range(len(ids)))
    assert [got[i] for i in ids] == list(range(len(ids)))  # index follows key order


def test_global_row_index_sparse_keys_and_repartition(spark, sf_dir):
    # orders keys are NOT contiguous per bucket boundaries; index must
    # still be dense, and identical under a different partitioning
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    a = {r["o_orderkey"]: r["row_index"] for r in global_row_index(o, "o_orderkey").collect()}
    b = {
        r["o_orderkey"]: r["row_index"]
        for r in global_row_index(o.repartition(13), "o_orderkey").collect()
    }
    assert a == b
    ks = sorted(a)
    assert [a[k] for k in ks] == list(range(len(ks)))


def test_global_row_index_no_single_partition_window(spark, sf_dir):
    """The plan's only unpartitioned window must run over the tiny
    bucket relation, not the row stream: no Window whose child is the
    full-relation exchange. Proxy check: the executed plan sorts
    within hash-partitioned exchanges (bucket windows), and a
    SinglePartition exchange feeds only an aggregate-or-tiny subtree."""
    d = load_table(spark, sf_dir, "documents")
    plan = (
        global_row_index(d, "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the row-stream window must be PARTITIONED by _bucket
    assert "windowspecdefinition(_bucket" in plan
    # every SinglePartition exchange must feed an aggregate (the max
    # bound / the <=B-row counts), never the raw row stream
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            assert "HashAggregate" in lines[i + 1], lines[i : i + 2]


def _py_negatives(rows, k, group_of):
    """rows: sorted ids. Replicates negative_sample's arithmetic."""
    index_of = {rid: i for i, rid in enumerate(rows)}
    n = len(rows)
    out = {}
    for a in rows:
        h1 = (a * HASH_MULT) % HASH_MOD
        h2 = (h1 * 2 + 1) % HASH_MOD
        for j in range(k):
            t = (h1 + j * h2) % n
            neg = rows[t]
            if neg == a or group_of[neg] == group_of[a]:
                continue
            key = (a, neg)
            if key not in out or out[key] > j:
                out[key] = j
    return out


def test_negative_sample_matches_python_and_invariants(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    meta = {r["doc_id"]: r["source"] for r in d.select("doc_id", "source").collect()}
    ids = sorted(meta)
    expected = _py_negatives(ids, 4, meta)

    got = {}
    for r in negative_sample(d, 4).collect():
        got[(r["anchor_id"], r["neg_id"])] = r["slot"]
        # invariants
        assert r["neg_id"] != r["anchor_id"]
        assert r["anchor_source"] == meta[r["anchor_id"]]
        assert r["neg_source"] == meta[r["neg_id"]]
        assert r["anchor_source"] != r["neg_source"]
    assert got == expected
    # coverage: nearly every anchor should get close to k negatives
    per_anchor = {}
    for (a, _), _s in got.items():
        per_anchor[a] = per_anchor.get(a, 0) + 1
    assert sum(per_anchor.values()) >= 3 * len(ids)  # avg >= 3 of 4 slots survive


def test_negative_sample_rejects_bad_k(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        negative_sample(d, 0)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.sets(st.integers(0, 10_000), min_size=1, max_size=40),
    buckets=st.sampled_from([1, 2, 7, 256]),
)
def test_global_row_index_property(spark, ids, buckets):
    """For ARBITRARY sparse non-negative id sets and bucket counts the
    index must equal the sorted position."""
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r["id"]: r["row_index"]
        for r in global_row_index(df, "id", num_buckets=buckets).collect()
    }
    expect = {v: i for i, v in enumerate(sorted(ids))}
    assert got == expect

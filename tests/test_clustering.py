"""Deterministic integer-grid k-means (operators/clustering.py).

The operator's headline claim is bit-for-bit partition invariance of
the TRAINED MODEL — the property a float trainer (such as pq_train)
cannot offer. So the tests pin:

  * exact parity with an INDEPENDENT pure-numpy replica of the
    integer Lloyd recurrence (same init, same grid rounding) — both
    the centroids and every assignment;
  * partition invariance: wildly different repartitions train the
    identical model and assign identically;
  * cluster recovery on separated blobs, empty-cluster policy, k >
    corpus error, and the shuffle-free plan shape of assignment.

Hypothesis examples are fresh each run (repo lesson from the star-CC
early-stop bug: re-run iterative-operator properties often).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from etl_inreach_spark.operators.clustering import (
    KMeansModel,
    _round_div_half_up,
    kmeans_assign,
    kmeans_fit,
)
from etl_inreach_spark.operators.similarity import (
    PORTABLE_A,
    PORTABLE_B,
    PORTABLE_M,
)

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType(), False), False),
    ]
)


def _to_df(spark, ids, vecs, partitions=4):
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    return spark.createDataFrame(rows, SCHEMA).repartition(partitions)


# ---------------------------------------------------------------- replica


def _replica_fit(ids, vecs, k, scale_bits=20, max_iter=25):
    """Independent numpy replica of the exact recurrence: quantize,
    portable-hash init, integer argmin with first-occurrence
    tie-break, integer sums, grid rounding, fixed-point stop."""
    ids = np.asarray(ids, dtype=np.int64)
    q = np.floor(np.asarray(vecs, dtype=np.float64) * float(1 << scale_bits) + 0.5).astype(
        np.int64
    )
    h = (PORTABLE_A * ids + PORTABLE_B) % PORTABLE_M
    order = np.lexsort((ids, h))
    if k > len(ids):
        raise ValueError("k exceeds corpus")
    cents = q[order[:k]].copy()
    n_iter, converged = 0, False
    sizes = np.zeros(k, dtype=np.int64)
    while n_iter < max_iter:
        n_iter += 1
        scores = (cents.astype(object) ** 2).sum(axis=1)[None, :] - 2 * (
            q.astype(object) @ cents.astype(object).T
        )  # object dtype: unbounded ints — catches any int64 overflow LIE
        assign = np.argmin(scores, axis=1)  # first occurrence on ties
        new = cents.copy()
        for c in range(k):
            members = q[assign == c]
            sizes[c] = len(members)
            if len(members):
                s = members.astype(object).sum(axis=0)
                new[c] = [
                    _round_div_half_up(int(sj), int(len(members))) for sj in s
                ]
        if (new == cents).all():
            converged = True
            break
        cents = new
    # serve-time assignment uses the FINAL centroids (identical to the
    # in-loop assignment iff converged)
    scores = (cents.astype(object) ** 2).sum(axis=1)[None, :] - 2 * (
        q.astype(object) @ cents.astype(object).T
    )
    assign = np.argmin(scores, axis=1)
    return cents, assign, n_iter, converged, sizes


def _assignments(df):
    return {r["vec_id"]: r["cluster"] for r in df.collect()}


# ---------------------------------------------------------------- tests


def test_matches_numpy_replica_on_testdata(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = kmeans_fit(emb, k=8, max_iter=15)
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    vecs = [r["embedding"] for r in rows]
    cents, assign, n_iter, converged, sizes = _replica_fit(
        ids, vecs, 8, max_iter=15
    )
    assert model.qcentroids == tuple(tuple(int(x) for x in row) for row in cents)
    assert model.n_iter == n_iter
    assert model.converged == converged
    assert model.sizes == tuple(int(s) for s in sizes)
    got = _assignments(kmeans_assign(emb, model))
    want = {i: int(c) for i, c in zip(ids, assign)}
    assert got == want


def test_partition_invariance_bit_for_bit(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    m_a = kmeans_fit(emb.repartition(3), k=6, max_iter=12)
    m_b = kmeans_fit(emb.repartition(17, "vec_id"), k=6, max_iter=12)
    assert m_a == m_b  # centroids, sizes, n_iter, converged — all of it
    a = _assignments(kmeans_assign(emb.repartition(2), m_a))
    b = _assignments(kmeans_assign(emb.repartition(9), m_b))
    assert a == b


def test_recovers_separated_blobs(spark):
    # 3 blobs far apart in 4-d; offsets are deterministic id functions
    ids = list(range(60))
    vecs = []
    for i in ids:
        blob = i % 3
        base = [0.0, 0.0, 0.0, 0.0]
        base[blob] = 10.0
        jitter = [((i * 37 + j * 11) % 7 - 3) * 0.01 for j in range(4)]
        vecs.append([b + j for b, j in zip(base, jitter)])
    df = _to_df(spark, ids, vecs)
    model = kmeans_fit(df, k=3, max_iter=25)
    assert model.converged
    assert sorted(model.sizes) == [20, 20, 20]
    got = _assignments(kmeans_assign(df, model))
    # all members of a blob share a cluster, and blobs get 3 distinct ones
    blob_clusters = {b: {got[i] for i in ids if i % 3 == b} for b in range(3)}
    assert all(len(cs) == 1 for cs in blob_clusters.values())
    assert len({next(iter(cs)) for cs in blob_clusters.values()}) == 3


def test_empty_cluster_keeps_previous_centroid(spark):
    # two distinct points, k=2 converges with both; then duplicate
    # points with k=3: one cluster must stay empty and keep its init
    # centroid without crashing
    ids = [1, 2, 3, 4]
    vecs = [[1.0, 0.0], [1.0, 0.0], [1.0, 0.0], [5.0, 5.0]]
    df = _to_df(spark, ids, vecs, partitions=2)
    model = kmeans_fit(df, k=3, max_iter=10)
    assert model.converged
    assert sorted(model.sizes, reverse=True)[:2] == [3, 1]
    assert 0 in model.sizes
    # the empty cluster's centroid is one of the init picks — i.e. a
    # quantized corpus vector
    grid = {tuple(int(np.floor(x * (1 << 20) + 0.5)) for x in v) for v in vecs}
    empty = [c for c, s in zip(model.qcentroids, model.sizes) if s == 0]
    assert all(tuple(c) in grid for c in empty)


def test_kmeans_centroids_seed_ivf_cells(spark):
    """Composition with the ANN stack: centroids_float() drops into
    the IVF cell assignment as a trained coarse quantizer. On
    separated axis-aligned blobs the cosine cell (IVF) and the
    Euclidean cluster (k-means) agree exactly, and indices line up
    1:1."""
    from etl_inreach_spark.operators.similarity import _nearest_cells

    ids = list(range(60))
    vecs = []
    for i in ids:
        blob = i % 3
        base = [0.0, 0.0, 0.0, 0.0]
        base[blob] = 10.0
        jitter = [((i * 37 + j * 11) % 7 - 3) * 0.01 for j in range(4)]
        vecs.append([b + j for b, j in zip(base, jitter)])
    df = _to_df(spark, ids, vecs)
    model = kmeans_fit(df, k=3, max_iter=25)
    cent = spark.createDataFrame(
        list(enumerate(model.centroids_float())), "cell int, _cvec array<double>"
    )
    cells = _nearest_cells(df, cent, 1, "embedding")
    got = {r["vec_id"]: r["cell"] for r in cells.collect()}
    assert got == _assignments(kmeans_assign(df, model))


def test_k_exceeding_corpus_raises(spark):
    df = _to_df(spark, [1, 2], [[1.0], [2.0]], partitions=1)
    with pytest.raises(ValueError, match="exceeds corpus"):
        kmeans_fit(df, k=5)


def test_assignment_plans_are_shuffle_free(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = kmeans_fit(emb, k=4, max_iter=5)
    # no shuffle/join; vectorized Arrow eval, never the row-at-a-time
    # Python evaluator
    plan = (
        kmeans_assign(emb, model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for banned in ("Exchange", "BatchEvalPython", "Join"):
        assert banned not in plan, f"{banned} in arrow assignment plan:\n{plan}"
    assert "ArrowEvalPython" in plan


def test_centroids_float_roundtrip():
    m = KMeansModel(
        qcentroids=((1 << 20, -(1 << 19)),),
        scale_bits=20,
        n_iter=1,
        converged=True,
        sizes=(1,),
    )
    assert m.centroids_float() == [[1.0, -0.5]]
    assert m.k == 1


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.lists(
            st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=64),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=24,
    ),
    k=st.integers(1, 4),
    split=st.integers(1, 7),
)
def test_property_distributed_equals_replica(spark, data, k, split):
    k = min(k, len(data))
    ids = [i * 7 + 3 for i in range(len(data))]  # non-contiguous ids
    df = _to_df(spark, ids, data, partitions=split)
    model = kmeans_fit(df, k=k, max_iter=8)
    cents, assign, n_iter, converged, sizes = _replica_fit(
        ids, data, k, max_iter=8
    )
    assert model.qcentroids == tuple(tuple(int(x) for x in row) for row in cents)
    assert (model.n_iter, model.converged) == (n_iter, converged)
    assert model.sizes == tuple(int(s) for s in sizes)
    got = _assignments(kmeans_assign(df, model))
    assert got == {i: int(c) for i, c in zip(ids, assign)}

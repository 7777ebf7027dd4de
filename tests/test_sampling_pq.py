"""Tests for the weighted priority sampler (operators/sampling.py)
and product quantization (operators/pq.py): exact parity with
straight-Python/numpy references, determinism under repartition, and
the plan shapes the scale story depends on."""

from __future__ import annotations

import numpy as np
import pytest

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.sampling import (
    HASH_MOD,
    HASH_MULT,
    priority_sample,
)


def _py_priority(doc_id: int, weight: float) -> float:
    h = (doc_id * HASH_MULT) % HASH_MOD
    return (float(weight) * float(HASH_MOD)) / float(h + 1)


def _py_sample(rows, k):
    """(id, weight) rows -> {id: (rank, est_weight)} via the DLT
    definition: top-k priorities, tau = (k+1)-th (0 if absent)."""
    ranked = sorted(rows, key=lambda r: (-_py_priority(*r), r[0]))
    tau = _py_priority(*ranked[k]) if len(ranked) > k else 0.0
    return {
        rid: (i + 1, max(float(w), tau))
        for i, (rid, w) in enumerate(ranked[:k])
    }


def test_priority_sample_global_matches_python(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    rows = [(r["doc_id"], r["n_chars"]) for r in d.select("doc_id", "n_chars").collect()]
    expected = _py_sample(rows, 25)
    got = {
        r["doc_id"]: (r["sample_rank"], r["est_weight"])
        for r in priority_sample(d, 25).collect()
    }
    assert got == expected
    # estimator sanity: sum of adjusted weights tracks the true total
    true_total = sum(w for _, w in rows)
    est_total = sum(e for _, e in got.values())
    assert 0.5 * true_total < est_total < 2.0 * true_total


def test_priority_sample_stratified_matches_python(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    per_src = {}
    for r in d.select("source", "doc_id", "n_chars").collect():
        per_src.setdefault(r["source"], []).append((r["doc_id"], r["n_chars"]))
    expected = {}
    for src, rows in per_src.items():
        for rid, (rank, est) in _py_sample(rows, 3).items():
            expected[rid] = (src, rank, est)
    got = {
        r["doc_id"]: (r["source"], r["sample_rank"], r["est_weight"])
        for r in priority_sample(d, 3, strata_cols=["source"]).collect()
    }
    assert got == expected


def test_priority_sample_small_stratum_exact_weights(spark):
    # stratum with <= k rows: tau = 0, est_weight = the raw weight
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "a"), (3, 5.0, "b")],
        "doc_id long, n_chars double, source string",
    )
    got = priority_sample(df, 5, strata_cols=["source"]).collect()
    assert len(got) == 3
    assert all(r["est_weight"] == r["n_chars"] for r in got)


def test_priority_sample_repartition_proof(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    a = sorted(
        (r["doc_id"], r["sample_rank"], r["est_weight"])
        for r in priority_sample(d, 10).collect()
    )
    b = sorted(
        (r["doc_id"], r["sample_rank"], r["est_weight"])
        for r in priority_sample(d.repartition(7), 10).collect()
    )
    assert a == b


def test_priority_sample_global_plan_is_take_ordered(spark, sf_dir):
    """The global path must plan the candidate cut as
    TakeOrderedAndProject (bounded per-partition heaps), not a full
    Sort + GlobalLimit."""
    d = load_table(spark, sf_dir, "documents")
    plan = (
        priority_sample(d, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_priority_sample_rejects_bad_k(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        priority_sample(d, 0)


# ---------------------------------------------------------------- PQ


def _numpy_pq_train(vecs, ids, num_sub, ksub, iters, init_offset=0):
    """Straight-numpy replica of pq_train: portable-hash init (the
    ksub ids at hash-order positions [init_offset, init_offset+ksub)),
    argmin-L2 assignment with lowest-code ties, member mean, empty
    codes keep previous."""
    from etl_inreach_spark.operators.similarity import (
        PORTABLE_A,
        PORTABLE_B,
        PORTABLE_M,
    )

    n, dim = vecs.shape
    dsub = dim // num_sub
    order = sorted(
        range(n), key=lambda i: ((PORTABLE_A * ids[i] + PORTABLE_B) % PORTABLE_M, ids[i])
    )
    # cent[sub][code] = dsub-dim centroid; code 0-based here (Spark 1-based)
    cent = np.stack(
        [
            np.stack(
                [
                    vecs[order[init_offset + c], m * dsub : (m + 1) * dsub]
                    for c in range(ksub)
                ]
            )
            for m in range(num_sub)
        ]
    ).astype(float)
    for _ in range(iters):
        new = cent.copy()
        for m in range(num_sub):
            sv = vecs[:, m * dsub : (m + 1) * dsub]
            d2 = ((sv[:, None, :] - cent[m][None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # ties -> lowest code
            for c in range(ksub):
                members = sv[assign == c]
                if len(members):
                    new[m, c] = members.mean(axis=0)
        cent = new
    return cent


def test_pq_train_encode_match_numpy(spark):
    from etl_inreach_spark.operators.pq import pq_encode, pq_train

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8)
    ids = list(range(40))
    num_sub, ksub, iters = 2, 4, 3
    ref_cent = _numpy_pq_train(vecs, ids, num_sub, ksub, iters)

    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in ids],
        "vec_id long, _res array<double>",
    )
    cent = pq_train(df, num_sub=num_sub, ksub=ksub, iters=iters, dim=8)
    got = {(r["sub"], r["code"]): np.array(r["_cvec"]) for r in cent.collect()}
    assert set(got) == {(m, c + 1) for m in range(num_sub) for c in range(ksub)}
    for m in range(num_sub):
        for c in range(ksub):
            assert np.allclose(got[(m, c + 1)], ref_cent[m, c], atol=1e-9), (m, c)

    # encode parity: nearest code per subspace from the SAME centroids
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(df, cent, num_sub=num_sub, dim=8).collect()
    }
    dsub = 8 // num_sub
    for i in ids:
        for m in range(num_sub):
            sv = vecs[i, m * dsub : (m + 1) * dsub]
            d2 = ((ref_cent[m] - sv[None, :]) ** 2).sum(axis=1)
            assert codes[i][m] == int(np.argmin(d2)) + 1, (i, m)


def test_ivf_pq_build_and_search_match_numpy(spark):
    """End-to-end IVF-PQ parity with a straight-numpy replica:
    hash-picked coarse cells, L2 cell assignment (lowest-cell ties),
    residual PQ codebooks, and nprobe-cell ADC search."""
    from etl_inreach_spark.operators.pq import ivf_pq_build, ivf_pq_topk
    from etl_inreach_spark.operators.similarity import (
        PORTABLE_A,
        PORTABLE_B,
        PORTABLE_M,
    )

    rng = np.random.RandomState(23)
    n, dim, num_sub, ksub, nlist, nprobe, iters = 36, 8, 2, 4, 3, 2, 2
    vecs = rng.randn(n, dim)
    ids = list(range(n))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in ids],
        "vec_id long, embedding array<double>",
    )

    # numpy replica --------------------------------------------------
    order = sorted(ids, key=lambda i: ((PORTABLE_A * i + PORTABLE_B) % PORTABLE_M, i))
    cellvecs = vecs[order[:nlist]].astype(float)  # cell c -> cellvecs[c-1]
    d2cells = ((vecs[:, None, :] - cellvecs[None, :, :]) ** 2).sum(axis=2)
    cell_of = np.argmin(d2cells, axis=1)  # ties -> lowest cell
    residuals = vecs - cellvecs[cell_of]
    # init_offset=nlist mirrors ivf_pq_build: the first nlist hash
    # picks are the cells themselves (all-zero residuals)
    ref_books = _numpy_pq_train(
        residuals, ids, num_sub, ksub, iters, init_offset=nlist
    )
    dsub = dim // num_sub
    ref_codes = {}
    for i in ids:
        cs = []
        for m in range(num_sub):
            sv = residuals[i, m * dsub : (m + 1) * dsub]
            cs.append(int(np.argmin(((ref_books[m] - sv[None, :]) ** 2).sum(axis=1))))
        ref_codes[i] = cs

    cells, books, index = ivf_pq_build(
        df, nlist=nlist, num_sub=num_sub, ksub=ksub, iters=iters, dim=dim
    )
    got_cells = {r["cell"]: np.array(r["_cellvec"]) for r in cells.collect()}
    for c in range(nlist):
        assert np.allclose(got_cells[c + 1], cellvecs[c], atol=1e-12)
    got_books = {(r["sub"], r["code"]): np.array(r["_cvec"]) for r in books.collect()}
    for m in range(num_sub):
        for c in range(ksub):
            assert np.allclose(got_books[(m, c + 1)], ref_books[m, c], atol=1e-9)
    got_index = {r["vec_id"]: (r["cell"], list(r["codes"])) for r in index.collect()}
    for i in ids:
        assert got_index[i] == (int(cell_of[i]) + 1, [c + 1 for c in ref_codes[i]]), i

    # search parity --------------------------------------------------
    qvecs = rng.randn(2, dim)
    queries = spark.createDataFrame(
        [(200 + i, [float(x) for x in qvecs[i]]) for i in range(2)],
        "q_id long, embedding array<double>",
    )
    got = {}
    for r in ivf_pq_topk(
        index, cells, books, queries, k=4, nprobe=nprobe, num_sub=num_sub, dim=dim
    ).collect():
        got.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"], r["adc_dist"]))

    for qi in range(2):
        qd2 = ((cellvecs - qvecs[qi][None, :]) ** 2).sum(axis=1)
        probe = sorted(range(nlist), key=lambda c: (qd2[c], c))[:nprobe]
        adc = {}
        for i in ids:
            c = int(cell_of[i])
            if c not in probe:
                continue
            qres = qvecs[qi] - cellvecs[c]
            d = 0.0
            for m in range(num_sub):
                qsv = qres[m * dsub : (m + 1) * dsub]
                cv = ref_books[m, ref_codes[i][m]]
                d += float(((qsv - cv) ** 2).sum())
            adc[i] = d
        expect = sorted(adc, key=lambda i: (adc[i], i))[:4]
        rows = sorted(got[200 + qi])
        assert [i for _, i, _ in rows] == expect, (qi, rows, expect)
        for _, i, dist in rows:
            assert abs(dist - adc[i]) < 1e-9


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1_000_000), st.integers(1, 1000)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(1, 8),
)
def test_priority_sample_property(spark, rows, k):
    """Arbitrary (id, weight) sets: Spark selection == the Python DLT
    definition, including ranks and adjusted weights."""
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    expected = _py_sample(rows, k)
    got = {
        r["doc_id"]: (r["sample_rank"], r["est_weight"])
        for r in priority_sample(df, k).collect()
    }
    assert got == expected

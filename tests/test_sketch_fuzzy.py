"""Unit/property tests for the round-5 operator additions: count-min
sketch (operators/cms.py), FastSS edit-1 fuzzy join
(operators/fuzzy.py), and SemDeDup cell-scoped dedup
(operators/similarity.semantic_dedup_cells)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def test_cms_estimate_never_underestimates(spark):
    """CMS one-sided error law: est >= true for EVERY key, with
    equality whenever none of the key's cells collide. Checked on a
    skewed corpus (Zipf-ish repetition) against exact counts."""
    from etl_inreach_spark.operators.cms import cms_build, cms_estimate

    rng = random.Random(7)
    rows = [(rng.randrange(0, 200) ** 2 % 997,) for _ in range(5000)]
    df = spark.createDataFrame(rows, "user_id long")
    truth = df.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    sketch = cms_build(df, width=256, depth=4)
    est = cms_estimate(sketch, truth, width=256, depth=4)
    bad = est.filter(F.col("est_count") < F.col("true_count")).count()
    assert bad == 0, "count-min sketch underestimated a key"
    # with a roomy grid the estimate is exact for most keys
    exact = est.filter(F.col("est_count") == F.col("true_count")).count()
    assert exact >= truth.count() * 0.5


def test_cms_rejects_mismatched_geometry(spark):
    from etl_inreach_spark.operators.cms import cms_build, cms_estimate

    df = spark.range(100).withColumnRenamed("id", "user_id")
    sketch = cms_build(df, width=256, depth=4)
    with pytest.raises(ValueError, match="cell grid"):
        cms_estimate(sketch, df, width=512, depth=4)
    with pytest.raises(ValueError, match="cell grid"):
        cms_estimate(sketch, df, width=256, depth=3)


def test_cms_merge_is_groupby_sum(spark):
    """Sketches over disjoint batches merged by summing cells equal
    the sketch of the union — the monoid law that makes CMS
    partition-parallel and streamable."""
    from etl_inreach_spark.operators.cms import cms_build

    a = spark.range(0, 500).withColumnRenamed("id", "user_id")
    b = spark.range(300, 900).withColumnRenamed("id", "user_id")
    merged = (
        cms_build(a, width=128, depth=2)
        .unionByName(cms_build(b, width=128, depth=2))
        .groupBy("row", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_build(a.unionByName(b), width=128, depth=2)
    got = {(r["row"], r["pos"]): r["cnt"] for r in merged.collect()}
    want = {(r["row"], r["pos"]): r["cnt"] for r in whole.collect()}
    assert got == want


def _naive_edit1_pairs(rows):
    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    return {
        (i1, i2)
        for (i1, s1) in rows
        for (i2, s2) in rows
        if i1 < i2 and lev(s1, s2) <= 1
    }


def test_edit1_pairs_matches_naive(spark):
    """Deletion-neighborhood blocking finds EXACTLY the levenshtein<=1
    pairs: substitutions, insertions, deletions, exact dupes, and
    none of the distance-2 decoys."""
    rows = [
        (1, "kitten"),
        (2, "sitten"),      # substitution of 1
        (3, "kitte"),       # deletion from 1
        (4, "kittens"),     # insertion into 1
        (5, "kitten"),      # exact dup of 1
        (6, "mitten"),      # substitution of 1
        (7, "sitting"),     # distance 3 from 1
        (8, "bitter"),      # distance 2 from 1
        (9, ""),            # empty: distance 1 to any single char
        (10, "a"),
        (11, "b"),
        (12, "ab"),
    ]
    from etl_inreach_spark.operators.fuzzy import edit1_pairs

    df = spark.createDataFrame(rows, "c_custkey long, c_name string")
    got = {
        (r["id_a"], r["id_b"])
        for r in edit1_pairs(df).collect()
    }
    assert got == _naive_edit1_pairs(rows)


def test_edit1_pairs_random_property(spark):
    """Random mutation corpus: blocked result == naive result."""
    rng = random.Random(13)
    alphabet = "abcd"
    base = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(3, 8))) for _ in range(30)]
    mutated = []
    for i, s in enumerate(base):
        mutated.append((2 * i, s))
        t = list(s)
        op = rng.randrange(3)
        p = rng.randrange(len(t))
        if op == 0:
            t[p] = rng.choice(alphabet)
        elif op == 1:
            del t[p]
        else:
            t.insert(p, rng.choice(alphabet))
        mutated.append((2 * i + 1, "".join(t)))
    from etl_inreach_spark.operators.fuzzy import edit1_pairs

    df = spark.createDataFrame(mutated, "c_custkey long, c_name string")
    got = {
        (r["id_a"], r["id_b"])
        for r in edit1_pairs(df).collect()
    }
    assert got == _naive_edit1_pairs(mutated)


def test_semantic_dedup_cells_min_id_survivor_rule(spark):
    """The kept/dropped verdict matches a brute-force recomputation of
    the rule: dropped iff SOME smaller-id vector in the same cell has
    cosine >= tau. Crafted corpus: near-duplicate pairs (scaled
    copies → cosine 1) plus orthogonal singletons."""
    import math

    vecs = {
        1: [1.0, 0.0, 0.0, 0.0],
        2: [2.0, 0.0, 0.0, 0.0],   # dup of 1 (cos = 1)
        3: [0.0, 1.0, 0.0, 0.0],
        4: [0.0, 3.0, 0.0, 0.0],   # dup of 3
        5: [0.0, 0.0, 1.0, 0.0],
        6: [0.0, 0.0, 0.0, 1.0],
        7: [1.0, 0.001, 0.0, 0.0],  # dup of 1 and 2
    }
    from etl_inreach_spark.operators.similarity import semantic_dedup_cells

    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: (r["cell"], r["kept"]) for r in
           semantic_dedup_cells(df, 0.99, nlist=2).collect()}
    assert set(out) == set(vecs), "every vector gets a verdict"

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    for vid, (cell, kept) in out.items():
        should_drop = any(
            o < vid and out[o][0] == cell and cos(vecs[o], vecs[vid]) >= 0.99
            for o in vecs
        )
        assert kept == (not should_drop), (vid, cell, kept)


def test_kmeans_lloyd_round2_matches_python_fold_replica(spark, sf_dir):
    """The TWO-round composed Lloyd query (kmeans_lloyd_round2_update,
    VERDICT r8 item 4) against a pure-Python sequential-fold replica —
    a THIRD engine beside Spark and the DuckDB oracle, and EXACT, not
    allclose: every float op (fold dot, norm, unit divide, cosine) is
    replayed in the same left-to-right order as Spark's F.aggregate,
    so doubles match bit-for-bit, and the cross-round handoff
    (mean_fp / 2^30) is a power-of-two division with no rounding at
    all."""
    import math

    from etl_inreach_spark.operators.similarity import (
        PORTABLE_A,
        PORTABLE_B,
        PORTABLE_M,
    )
    from etl_inreach_spark.catalog import load_table
    from etl_inreach_spark.queries_extended import kmeans_lloyd_round2_update

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    dim = len(next(iter(vecs.values())))

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cosine(a, b):
        return fold_dot(a, b) / (
            math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
        )

    unit = {
        i: [x / max(math.sqrt(fold_dot(v, v)), 1e-12) for x in v]
        for i, v in vecs.items()
    }
    order = sorted(vecs, key=lambda i: ((PORTABLE_A * i + PORTABLE_B) % PORTABLE_M, i))
    cents = {c + 1: vecs[order[c]] for c in range(16)}

    def assign(cent):
        out = {}
        for i, uv in unit.items():
            best = max(
                sorted(cent),
                key=lambda c: (cosine(uv, cent[c]), -c),
            )
            out[i] = best
        return out

    def stats(asg):
        st = {}
        for i, c in asg.items():
            for d in range(dim):
                k = (c, d)
                n, s = st.get(k, (0, 0))
                st[k] = (n + 1, s + math.floor(unit[i][d] * 1073741824.0))
        return st

    st1 = stats(assign(cents))
    cent2 = {}
    for (c, d), (n, s) in st1.items():
        cent2.setdefault(c, [0.0] * dim)[d] = (s // n) / 1073741824.0
    st2 = stats(assign(cent2))
    expected = {
        (c, d): (n, s, s // n) for (c, d), (n, s) in st2.items()
    }

    got = {
        (r["cell"], r["dim"]): (r["n_members"], r["sum_fp"], r["mean_fp"])
        for r in kmeans_lloyd_round2_update(spark, sf_dir).collect()
    }
    assert got == expected


def _naive_editk_pairs(rows, k):
    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    return {
        (i1, i2, lev(s1, s2))
        for (i1, s1) in rows
        for (i2, s2) in rows
        if i1 < i2 and lev(s1, s2) <= k
    }


def test_edit2_pairs_matches_naive(spark):
    """Depth-2 deletion-neighborhood blocking finds EXACTLY the
    levenshtein<=2 pairs: double substitutions, sub+del, double
    insert, transposition-as-2-subs — and none of the distance-3
    decoys."""
    rows = [
        (1, "kitten"),
        (2, "sitten"),      # 1 sub
        (3, "bitten"),      # 1 sub (2 from sitten at pos 1... also 1)
        (4, "sittin"),      # 2 subs from kitten
        (5, "kitte"),       # 1 del
        (6, "kitt"),        # 2 del
        (7, "kittens"),     # 1 ins
        (8, "skittens"),    # 2 ins
        (9, "sitting"),     # 3 from kitten
        (10, "iktten"),     # transposition = 2 subs
        (11, ""),           # dist 2 to any 2-char string
        (12, "ab"),
        (13, "ba"),
        (14, "abc"),
    ]
    from etl_inreach_spark.operators.fuzzy import edit2_pairs

    df = spark.createDataFrame(rows, "c_custkey long, c_name string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit2_pairs(df).collect()
    }
    assert got == _naive_editk_pairs(rows, 2)


def test_edit2_pairs_random_property(spark):
    """Random double-mutation corpus: blocked == naive, including the
    reported dist values (the banded threshold levenshtein must not
    distort in-band distances)."""
    rng = random.Random(29)
    alphabet = "abcd"
    base = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(3, 8)))
        for _ in range(25)
    ]
    mutated = []
    for i, s in enumerate(base):
        mutated.append((3 * i, s))
        for rep in (1, 2):
            t = list(s)
            for _ in range(rep):
                op = rng.randrange(3)
                p = rng.randrange(max(len(t), 1))
                if op == 0 and t:
                    t[p] = rng.choice(alphabet)
                elif op == 1 and t:
                    del t[p]
                else:
                    t.insert(p, rng.choice(alphabet))
            mutated.append((3 * i + rep, "".join(t)))
    from etl_inreach_spark.operators.fuzzy import edit2_pairs

    df = spark.createDataFrame(mutated, "c_custkey long, c_name string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit2_pairs(df).collect()
    }
    assert got == _naive_editk_pairs(mutated, 2)


def test_edit2_max_len_guard_raises(spark):
    """The k=2 neighborhood is quadratic in |s| — the max_len guard
    must RAISE on overlong strings, not silently explode."""
    import pytest

    from etl_inreach_spark.operators.fuzzy import edit2_pairs

    df = spark.createDataFrame(
        [(1, "x" * 100), (2, "y")], "c_custkey long, c_name string"
    )
    with pytest.raises(Exception) as ei:
        edit2_pairs(df).collect()
    assert "max_len" in str(ei.value)


def test_edit2_null_strings_dropped_not_raised(spark):
    """NULL strings must pass the max_len guard and simply drop out of
    the pair relation (the k=1/uncapped behavior) — the 3VL NULL
    condition must not fall into the raise_error branch."""
    from etl_inreach_spark.operators.fuzzy import edit1_pairs, edit2_pairs

    df = spark.createDataFrame(
        [(1, "kitten"), (2, None), (3, "kitte"), (4, "kitt")],
        "c_custkey long, c_name string",
    )
    got2 = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit2_pairs(df).collect()
    }
    assert got2 == {(1, 3, 1), (1, 4, 2), (3, 4, 1)}
    # capped path too (the guard + checkpoint branch)
    got2c = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit2_pairs(df, max_bucket_rows=2).collect()
    }
    assert got2c == got2
    got1 = {
        (r["id_a"], r["id_b"])
        for r in edit1_pairs(df).collect()
    }
    assert got1 == {(1, 3), (3, 4)}

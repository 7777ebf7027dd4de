"""Spec tests for the integer-log-odds Naive-Bayes quality classifier
(operators/nb_quality.py): the fixed-point log2 against its Python
replica (the executable spec) and the end-to-end train+score query
against a straight-Python Naive Bayes over the same split."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.nb_quality import with_ilog2_fp
from tests.references import ilog2_fp_py


def test_ilog2_fp_spark_matches_python_replica(spark):
    xs = [
        1, 2, 3, 5, 31, 143, 190, 22000,
        (1 << 20) - 1, 1 << 20, (1 << 20) + 1,
        (1 << 21) - 1, 1 << 21,
        27347992242, 10**12, 7**13, (1 << 62) - 1, 1 << 62,
    ]
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    got = {
        r["x"]: r["l"] for r in with_ilog2_fp(df, "x", "l").collect()
    }
    for x in xs:
        assert got[x] == ilog2_fp_py(x), x
    # accuracy envelope: each of the 20 squarings truncates <= 1 unit
    # of the normalized mantissa, so the result sits within a few
    # 2^-20 grid ulps of the true log2 (determinism, not tightness,
    # is the contract — the algorithm IS the spec)
    import math

    for x in xs:
        assert abs(got[x] - math.log2(x) * (1 << 20)) <= 4.0, x


def test_nb_quality_query_matches_python_replica(spark, sf_dir):
    from etl_inreach_spark.queries_training import nb_quality_train_score

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    c1: Counter = Counter()
    c0: Counter = Counter()
    d1 = d0 = 0
    for r in docs:
        if r["doc_id"] % 3 == 0:
            continue
        # priors are DOC-level (every train doc counts, token-ful or
        # not); token counts come from the tokenized stream
        if r["lang"] == "en":
            d1 += 1
            c1.update(r["text"].split())
        else:
            d0 += 1
            c0.update(r["text"].split())
    vocab = set(c1) | set(c0)
    n1, n0, v = sum(c1.values()), sum(c0.values()), len(vocab)
    w = {
        t: ilog2_fp_py((c1[t] + 1) * (n0 + v))
        - ilog2_fp_py((c0[t] + 1) * (n1 + v))
        for t in vocab
    }
    prior = ilog2_fp_py(d1) - ilog2_fp_py(d0)
    expected = {}
    for r in docs:
        if r["doc_id"] % 3 != 0:
            continue
        toks = [t for t in r["text"].split() if t in w]
        if not toks:
            continue
        score = prior + sum(w[t] for t in toks)
        expected[r["doc_id"]] = (
            len(toks),
            1 if r["lang"] == "en" else 0,
            score,
            1 if score >= 0 else 0,
        )

    got = nb_quality_train_score(spark, sf_dir).collect()
    assert len(got) == len(expected)
    signs = set()
    for r in got:
        assert (
            r["n_toks"], r["y_true"], r["score_fp"], r["pred"]
        ) == expected[r["doc_id"]], r["doc_id"]
        signs.add(r["pred"])
    # the learned gate must actually separate: both classes predicted
    assert signs == {0, 1}


def test_ilog2_sql_cte_chain_matches_python_replica_fuzz():
    """The DuckDB unrolled-CTE rendering must equal the Python spec on
    arbitrary int64 inputs (one batched query, no Spark): hypothesis
    would shrink nicely here but a seeded dense sweep of magnitudes
    exercises every normalization branch (m < 20, m = 20, m > 20) and
    both fold branches at each step."""
    import random

    import duckdb

    from etl_inreach_spark.operators.nb_quality import ilog2_sql_cte_chain

    rng = random.Random(0xC0FFEE)
    xs = sorted(
        {1, 2, 3, (1 << 20) - 1, 1 << 20, (1 << 20) + 1, (1 << 62) - 1}
        | {rng.randrange(1, 1 << b) for b in range(2, 63) for _ in range(4)}
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest(?::BIGINT[]) AS x", [list(xs)]
    )
    chain, fin = ilog2_sql_cte_chain("t", {"v": "x"}, "il")
    rows = con.execute(
        f"WITH {chain} SELECT x, l_v FROM {fin} ORDER BY x"
    ).fetchall()
    assert len(rows) == len(xs)
    for x, got in rows:
        assert got == ilog2_fp_py(x), x


def test_with_ilog2_fp_accepts_int32_input(spark):
    """ADVICE r8: an INT (32-bit) input column must be pinned to
    BIGINT at the top of the chain, not left to rely on later implicit
    promotion — same results as the 64-bit path."""
    xs = [1, 3, 1000, (1 << 20) + 1, (1 << 31) - 1]
    df = spark.createDataFrame([(x,) for x in xs], "x int")
    got = {r["x"]: r["l"] for r in with_ilog2_fp(df, "x", "l").collect()}
    for x in xs:
        assert got[x] == ilog2_fp_py(x), x


def test_nb_train_max_vocab_cap_matches_python_replica(spark, sf_dir):
    """The max_vocab top-V cut (VERDICT r8 item 3) against a straight
    Python replica over the same training split: the kept vocabulary
    is the top-V terms by total frequency (term tie-break), smoothing
    totals are recomputed over the CAPPED vocabulary, and every kept
    weight is exact."""
    from etl_inreach_spark.operators.nb_quality import nb_train

    cap = 40
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    c1: Counter = Counter()
    c0: Counter = Counter()
    for r in docs:
        if r["doc_id"] % 3 == 0:
            continue
        (c1 if r["lang"] == "en" else c0).update(r["text"].split())
    freq = Counter({t: c1[t] + c0[t] for t in set(c1) | set(c0)})
    kept = sorted(freq, key=lambda t: (-freq[t], t))[:cap]
    n1 = sum(c1[t] for t in kept)
    n0 = sum(c0[t] for t in kept)
    v = len(kept)
    expected = {
        t: ilog2_fp_py((c1[t] + 1) * (n0 + v))
        - ilog2_fp_py((c0[t] + 1) * (n1 + v))
        for t in kept
    }

    train = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 != 0)
    labels = train.select("doc_id", F.expr("cast(lang = 'en' as bigint)").alias("y"))
    toks = train.select(
        "doc_id",
        F.expr("cast(lang = 'en' as bigint)").alias("y"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    w, _ = nb_train(toks, labels, max_vocab=cap)
    got = {r["term"]: r["w_fp"] for r in w.collect()}
    assert got == expected


def test_nb_train_empty_class_prior_is_null_not_zero(spark):
    """A training split with ZERO documents in one class is outside
    the model's domain: ilog2(0) must surface as a NULL prior (which
    any downstream value gate fails loudly), never as the silently
    finite log-of-zero = 0 the unguarded rendering produced (review
    finding r8). The Python spec raises on the same input."""
    import pytest as _pytest

    from etl_inreach_spark.operators.nb_quality import nb_train

    toks = spark.createDataFrame(
        [(1, 1, "a"), (1, 1, "b"), (2, 1, "a")],
        "doc_id long, y long, term string",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, y long"
    )
    _, priors = nb_train(toks, doc_labels=labels)
    row = priors.collect()[0]
    assert row["n0_docs"] == 0
    assert row["prior_fp"] is None
    with _pytest.raises(ValueError):
        ilog2_fp_py(0)

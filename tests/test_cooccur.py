"""Co-occurrence lift + bigram LM scoring (operators/cooccur.py):
exact integer values on hand-built corpora, a pure-Python replica on
real documents, and partitioning invariance of the ppm sums."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from etl_inreach_spark.catalog import load_table

PPM = 1_000_000


@pytest.fixture()
def tiny_docs(spark):
    rows = [
        (1, "spark shuffle join"),
        (2, "spark shuffle"),
        (3, "spark join"),
        (4, "duck oracle"),
        (5, "duck oracle spark"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_term_lift_exact_counts(tiny_docs):
    from etl_inreach_spark.operators.cooccur import term_cooccurrence_lift

    out = {
        (r["term_a"], r["term_b"]): r
        for r in term_cooccurrence_lift(tiny_docs, min_df=2, min_pair_df=2).collect()
    }
    # df: spark=4, shuffle=2, join=2, duck=2, oracle=2
    # pairs with support >= 2: (shuffle,spark)=2, (join,spark)=2,
    # (duck,oracle)=2, (oracle,spark)=1 -> dropped
    assert set(out) == {("shuffle", "spark"), ("join", "spark"), ("duck", "oracle")}
    r = out[("duck", "oracle")]
    assert (r["df_a"], r["df_b"], r["df_ab"], r["n_docs"]) == (2, 2, 2, 5)
    assert r["lift_ppm"] == PPM * 5 * 2 // (2 * 2)  # lift 2.5
    r = out[("shuffle", "spark")]
    assert r["lift_ppm"] == PPM * 5 * 2 // (2 * 4)  # lift 1.25


def test_term_lift_matches_python_replica_on_documents(spark, sf_dir):
    from etl_inreach_spark.operators.cooccur import term_cooccurrence_lift

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {
        (r["term_a"], r["term_b"]): (r["df_ab"], r["lift_ppm"])
        for r in term_cooccurrence_lift(d, min_df=50, min_pair_df=25).collect()
    }

    docs = [(r["doc_id"], r["text"]) for r in d.collect()]
    n = len({i for i, _ in docs})
    term_sets = [set(re.split(r"\s+", t.strip())) - {""} for _, t in docs]
    df = Counter(t for s in term_sets for t in s)
    keep = {t for t, c in df.items() if c >= 50}
    pc: Counter = Counter()
    for s in term_sets:
        ks = sorted(t for t in s if t in keep)
        for i in range(len(ks)):
            for j in range(i + 1, len(ks)):
                pc[(ks[i], ks[j])] += 1
    expect = {
        p: (c, PPM * n * c // (df[p[0]] * df[p[1]]))
        for p, c in pc.items()
        if c >= 25
    }
    assert got == expect and len(got) > 0


def test_bigram_model_counts(tiny_docs):
    from etl_inreach_spark.operators.cooccur import bigram_model

    m = {
        (r["w1"], r["w2"]): (r["c_big"], r["c_pre"])
        for r in bigram_model(tiny_docs).collect()
    }
    # bigrams: (spark,shuffle)x2 (shuffle,join) (spark,join)
    #          (duck,oracle)x2 (oracle,spark)
    assert m[("spark", "shuffle")] == (2, 3)
    assert m[("spark", "join")] == (1, 3)
    assert m[("duck", "oracle")] == (2, 2)
    assert m[("oracle", "spark")] == (1, 1)


def test_bigram_lm_score_exact_and_partitioning_proof(spark, tiny_docs):
    from etl_inreach_spark.operators.cooccur import bigram_lm_score

    out = {r["doc_id"]: r for r in bigram_lm_score(tiny_docs).collect()}
    # doc 1: p(shuffle|spark) = 2/3; p(join|shuffle) = 1/1 (the only
    # bigram starting with 'shuffle' — doc 2's trailing 'shuffle'
    # starts no bigram)
    assert out[1]["n_bigrams"] == 2
    assert out[1]["score_ppm_sum"] == PPM * 2 // 3 + PPM
    assert out[1]["mean_prob_ppm"] == (PPM * 2 // 3 + PPM) // 2
    # doc 5: p(oracle|duck)=1, p(spark|oracle)=1
    assert out[5]["score_ppm_sum"] == 2 * PPM

    # identical values under a different partitioning (floor-then-sum
    # makes the aggregate order-insensitive)
    rep = {
        r["doc_id"]: (r["n_bigrams"], r["score_ppm_sum"], r["mean_prob_ppm"])
        for r in bigram_lm_score(tiny_docs.repartition(7)).collect()
    }
    assert rep == {
        k: (v["n_bigrams"], v["score_ppm_sum"], v["mean_prob_ppm"])
        for k, v in out.items()
    }


def test_bigram_lm_score_short_docs(spark):
    from etl_inreach_spark.operators.cooccur import bigram_lm_score

    probe = spark.createDataFrame(
        [(10, "one"), (11, ""), (12, "never seen tokens")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_score(probe).collect()}
    assert (out[10]["n_bigrams"], out[10]["mean_prob_ppm"]) == (0, 0)
    assert (out[11]["n_bigrams"], out[11]["mean_prob_ppm"]) == (0, 0)
    # each bigram is the only one after its first word: p = 1
    assert (out[12]["n_bigrams"], out[12]["score_ppm_sum"]) == (2, 2 * PPM)


def test_cooccur_plans_have_no_python_udf(spark, sf_dir):
    from etl_inreach_spark.operators.cooccur import bigram_lm_score, term_cooccurrence_lift

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    for df in (term_cooccurrence_lift(d), bigram_lm_score(d)):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

"""Maximal duplicated-span extraction (substring-level dedup) and the
Spark-4 SQL-surface pins (recursive CTE, lateral join) added alongside
it."""

from __future__ import annotations

from etl_inreach_spark.operators.text_dedup import duplicated_spans

SF_DIR = "/root/testdata/sf0.001"


def _spans(spark, rows, k=3, min_count=2):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = duplicated_spans(df, k=k, min_count=min_count)
    return sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in out.collect()
    )


class TestDuplicatedSpans:
    def test_cross_doc_shared_run_is_one_maximal_span(self, spark):
        # docs 1 and 2 share tokens 'a b c d e' (5 tokens, k=3 -> three
        # overlapping dup windows each, merged into ONE span of 5)
        rows = [
            (1, "a b c d e x y z"),
            (2, "p q a b c d e"),
            (3, "u v w u2 v2 w2"),
        ]
        got = _spans(spark, rows)
        assert got == [(1, 0, 4, 5), (2, 2, 6, 5)]

    def test_gap_wider_than_k_splits_spans(self, spark):
        # two shared 3-gram regions separated by >k unique tokens in
        # doc 1 -> two islands, not one
        rows = [
            (1, "a b c g1 g2 g3 g4 d e f"),
            (2, "a b c"),
            (3, "d e f"),
        ]
        got = _spans(spark, rows)
        assert (1, 0, 2, 3) in got and (1, 7, 9, 3) in got
        assert len([g for g in got if g[0] == 1]) == 2

    def test_within_doc_repeat_counts_toward_min_count(self, spark):
        # 'a b c' occurs twice inside ONE doc -> both occurrences are
        # duplicated windows even with no other doc sharing them
        rows = [(1, "a b c z1 z2 z3 z4 a b c")]
        got = _spans(spark, rows)
        assert got == [(1, 0, 2, 3), (1, 7, 9, 3)]

    def test_short_docs_and_no_dups_yield_empty(self, spark):
        rows = [(1, "a b"), (2, "c d e f"), (3, "g h i j")]
        assert _spans(spark, rows) == []

    def test_adjacent_windows_merge(self, spark):
        # dup windows at pos 0 and pos 3 (gap == k) are touching
        # coverage -> single island
        rows = [
            (1, "a b c d e f"),
            (2, "a b c"),
            (3, "d e f"),
        ]
        got = _spans(spark, rows)
        assert got == [(1, 0, 5, 6), (2, 0, 2, 3), (3, 0, 2, 3)]


class TestSqlSurface:
    def test_recursive_nation_chain_depths(self, spark):
        from etl_inreach_spark.queries_relational import recursive_nation_chain

        out = recursive_nation_chain(spark, SF_DIR).collect()
        # every nation appears exactly once, depth 0 == one per region
        assert len(out) == 25
        assert len({r.nation_key for r in out}) == 25
        by_region = {}
        for r in out:
            by_region.setdefault(r.region_key, []).append(r.depth)
        for depths in by_region.values():
            assert sorted(depths) == list(range(len(depths)))

    def test_lateral_top2_matches_window_rendering(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from etl_inreach_spark.catalog import load_table
        from etl_inreach_spark.queries_relational import lateral_top2_customers

        got = sorted(
            (r.n_name, r.c_custkey) for r in lateral_top2_customers(spark, SF_DIR).collect()
        )
        c = load_table(spark, SF_DIR, "customer")
        n = load_table(spark, SF_DIR, "nation")
        w = Window.partitionBy("c_nationkey").orderBy(
            F.col("c_acctbal").desc(), F.col("c_custkey").asc()
        )
        want = sorted(
            (r.n_name, r.c_custkey)
            for r in c.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= 2)
            .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
            .select("n_name", "c_custkey")
            .collect()
        )
        assert got == want


class TestCurationAdditions:
    def test_temperature_rates_monotone_and_anchor(self, spark):
        from etl_inreach_spark.queries_curation import temperature_resample_sources

        rows = temperature_resample_sources(spark, SF_DIR).collect()
        by_n = sorted(rows, key=lambda r: r.n_docs)
        # smallest source keeps everything (rate 1.0 -> 1_000_000 ppm)
        assert by_n[0].keep_rate_ppm == 1_000_000
        # rates are non-increasing in source size, kept <= docs
        for a, b in zip(by_n, by_n[1:]):
            assert a.keep_rate_ppm >= b.keep_rate_ppm
        for r in rows:
            assert 0 <= r.n_kept <= r.n_docs

    def test_ngram_diversity_bounds(self, spark):
        from etl_inreach_spark.queries_curation import ngram_diversity_sources

        rows = ngram_diversity_sources(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert 0 < r.distinct_grams <= r.total_grams
            assert 0 < r.diversity_ppm <= 1_000_000
            assert r.diversity_ppm == 1_000_000 * r.distinct_grams // r.total_grams


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# tiny vocabulary forces dup windows; short docs hit the size-<k edge
_doc = st.lists(st.sampled_from("a b c d".split()), min_size=0, max_size=14)
_corpus = st.lists(_doc, min_size=1, max_size=6)


def _replica_spans(docs, k=3, min_count=2):
    grams = {}
    for i, toks in enumerate(docs):
        for p in range(len(toks) - k + 1):
            grams.setdefault(tuple(toks[p : p + k]), []).append((i, p))
    dup = sorted(
        (i, p) for g, occ in grams.items() if len(occ) >= min_count for i, p in occ
    )
    out, cur = [], None
    for i, p in dup:
        if cur and cur[0] == i and p - cur[2] <= k:
            cur[2] = p
        else:
            if cur:
                out.append(tuple(cur))
            cur = [i, p, p]
        # cur = [doc, island_start, last_window_start]
    if cur:
        out.append(tuple(cur))
    return sorted((i, s, e + k - 1, e + k - s) for i, s, e in out)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(docs=_corpus)
def test_duplicated_spans_matches_replica(spark, docs):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicated_spans(df, k=3, min_count=2).collect()
    )
    assert got == _replica_spans(docs)


def _replica_skyline(points):
    out = []
    for i, (d, p) in enumerate(points):
        dominated = any(
            (d2 >= d and p2 >= p and (d2 > d or p2 > p)) for d2, p2 in points
        )
        if not dominated:
            out.append((d, p))
    return sorted(out)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    points=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)), min_size=1, max_size=24
    )
)
def test_pareto_two_window_form_matches_dominance(spark, points):
    """The linear two-window rendering == brute-force NOT EXISTS
    dominance, on arbitrary small integer point sets (duplicates and
    total ties included)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(points, "d int, p int")
    per_d = Window.partitionBy("d")
    cand = df.withColumn("_mx", F.max("p").over(per_d)).where(
        F.col("p") == F.col("_mx")
    )
    later = Window.orderBy(F.col("_neg")).rangeBetween(Window.unboundedPreceding, -1)
    got = sorted(
        (r.d, r.p)
        for r in cand.withColumn("_neg", -F.col("d"))
        .withColumn("_lm", F.max("p").over(later))
        .where(F.col("_lm").isNull() | (F.col("_lm") < F.col("p")))
        .select("d", "p")
        .collect()
    )
    # duplicate (d, p) points are mutually non-dominating: BOTH forms
    # keep every copy, so compare as multisets
    assert got == _replica_skyline(points)


def _replica_temperature(rows):
    from collections import Counter
    import math

    counts = Counter(src for _id, src in rows)
    mn = min(counts.values())
    out = {}
    for src, n in counts.items():
        rate = math.sqrt(mn / n)
        below = math.floor(rate * 4294967296.0)
        kept = sum(
            1
            for d, s in rows
            if s == src and (d * 2654435761) % 4294967296 < below
        )
        out[src] = (n, kept, math.floor(rate * 1000000.0))
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    assignment=st.lists(st.integers(0, 3), min_size=1, max_size=40),
)
def test_temperature_resample_matches_replica(spark, assignment):
    """The sqrt(min_n/n_s) rate + integer-hash keep decision ==
    a pure-Python replica, on arbitrary source assignments (including
    single-source and all-equal-size corners). Drives the SAME
    temperature_resample pipeline the registered query runs (ADVICE
    r6: an inline re-implementation here let the query body drift
    undetected)."""
    from etl_inreach_spark.queries_curation import temperature_resample

    rows = [(i, f"s{a}") for i, a in enumerate(assignment)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    got = {
        r.source: (r.n_docs, r.n_kept, r.keep_rate_ppm)
        for r in temperature_resample(df).collect()
    }
    assert got == _replica_temperature(rows)

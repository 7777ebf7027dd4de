"""Property-based tests (SURVEY.md §5.2.3): algebraic laws of the
keyed-argmax dedup under arbitrary inputs — idempotence, containment,
one-row-per-key, argmax correctness, union invariance.

Spark round-trips per example are expensive, so examples are few but
adversarial: hypothesis shrinks toward duplicate keys, tied and NULL
timestamps — exactly the §2.3 trap cases.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

BASE = datetime(2024, 1, 1)

row = st.tuples(
    st.integers(0, 4),                       # key (few values => collisions)
    st.one_of(st.none(), st.integers(0, 5)),  # ts offset minutes (None => null)
)
rows = st.lists(row, min_size=1, max_size=12)


def to_df(spark, data):
    return spark.createDataFrame(
        [
            (f"k{k}", BASE + timedelta(minutes=m) if m is not None else None, i)
            for i, (k, m) in enumerate(data)
        ],
        "id string, time timestamp, arrival_idx long",
    )


def run_dedup(df):
    from etl_inreach_spark.operators.dedup import latest_by_key

    return latest_by_key(df, ["id"], "time", arrival_col="arrival_idx")


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(data=rows)
def test_dedup_laws(spark, data):
    df = to_df(spark, data)
    out = run_dedup(df)
    got = out.collect()
    src = df.collect()

    # one row per key, and exactly the keys of the input
    keys = [r["id"] for r in got]
    assert sorted(keys) == sorted({r["id"] for r in src})

    # containment: every output row is an input row
    src_set = {(r["id"], r["time"], r["arrival_idx"]) for r in src}
    assert all((r["id"], r["time"], r["arrival_idx"]) in src_set for r in got)

    # argmax + reference tie-break: max time per key (NULL == epoch 0),
    # earliest arrival among ties
    for r in got:
        grp = [s for s in src if s["id"] == r["id"]]
        key = lambda s: (s["time"] or datetime(1970, 1, 1), -s["arrival_idx"])
        best = max(grp, key=key)
        assert (r["time"], r["arrival_idx"]) == (best["time"], best["arrival_idx"])

    # idempotence: dedup(dedup(x)) == dedup(x)
    twice = {(r["id"], r["time"], r["arrival_idx"]) for r in run_dedup(out).collect()}
    assert twice == {(r["id"], r["time"], r["arrival_idx"]) for r in got}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(data=rows, split=st.integers(1, 11))
def test_dedup_union_invariance(spark, data, split):
    """dedup(a UNION b) == dedup(dedup(a) UNION dedup(b)) — the law
    that makes per-feed dedup + merge equal to global dedup."""
    cut = min(split, len(data))
    a, b = to_df(spark, data[:cut]), to_df(spark, data[cut:] or [])
    whole = {
        (r["id"], r["time"], r["arrival_idx"])
        for r in run_dedup(a.unionByName(b)).collect()
    }
    staged = {
        (r["id"], r["time"], r["arrival_idx"])
        for r in run_dedup(run_dedup(a).unionByName(run_dedup(b))).collect()
    }
    assert staged == whole


def _brute_jaccard_pairs(docs: list[tuple[int, str]], k: int, t: float):
    """Pure-Python reference: exact k-gram Jaccard pairs at >= t."""
    sets = {
        i: {s[j : j + k] for j in range(len(s) - k + 1)}
        for i, s in docs
        if len(s) >= k
    }
    out = set()
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            inter = len(a & b)
            if inter and inter / (len(a) + len(b) - inter) >= t:
                out.add((ids[x], ids[y]))
    return out


doc_text = st.text(alphabet="abcd ", min_size=0, max_size=40)
doc_corpus = st.lists(doc_text, min_size=2, max_size=10)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=doc_corpus)
def test_ngram_jaccard_matches_python_reference(spark, texts):
    """The PPJoin-filtered exact operator equals a brute-force Python
    reference on arbitrary tiny corpora (tiny alphabet => frequent
    shingle collisions, the prefix filter's hardest regime)."""
    from etl_inreach_spark.operators.text_dedup import ngram_jaccard_pairs

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, 0.6, shingle_k=3).collect()
    }
    want = _brute_jaccard_pairs(docs, 3, 0.6)
    assert got == want


edge_list = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_list)
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation equals a union-find reference on arbitrary
    small graphs (cycles, self-merging stars, disjoint islands)."""
    from etl_inreach_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _union_find_components(edges)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=edge_list)
def test_connected_components_star_matches_union_find(spark, edges):
    """Large-star/small-star contraction equals the same union-find
    reference — the log-diameter escalation must be label-identical
    to plain propagation on any graph."""
    from etl_inreach_spark.operators.dedup import connected_components_star

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components_star(df).collect()}
    assert got == _union_find_components(edges)


def test_connected_components_star_long_chain(spark):
    """A 60-hop chain: diameter exceeds the propagation default
    max_iter, the star contraction converges in O(log n) rounds."""
    from etl_inreach_spark.operators.dedup import connected_components_star

    edges = [(i, i + 1) for i in range(100, 160)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components_star(df).collect()}
    assert got == {i: 100 for i in range(100, 161)}


@settings(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    member=st.lists(st.integers(0, 10_000), min_size=0, max_size=60, unique=True),
    probe=st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True),
)
def test_bloom_never_drops_members(spark, member, probe):
    """LAW: bloom_prune keeps every fact row whose key is in the
    filter's key set — no false negatives, for any key set and any
    probe set (a python-side reimplementation cross-checks positions
    indirectly: membership keys must all survive)."""
    from etl_inreach_spark.operators.bloom import bloom_prune, bloom_words

    dim = spark.createDataFrame([(k,) for k in member], "c_custkey long")
    fact_keys = sorted(set(member) | set(probe))
    fact = spark.createDataFrame([(k,) for k in fact_keys], "o_custkey long")
    words = bloom_words(dim, m_bits=1 << 12, k_hashes=4)
    kept = {
        r["o_custkey"]
        for r in bloom_prune(fact, words, m_bits=1 << 12, k_hashes=4).collect()
    }
    assert set(member) <= kept


@settings(
    deadline=None,
    max_examples=6,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 6), st.integers(-50, 50)),
        min_size=1, max_size=40,
    ),
    cut=st.integers(0, 40),
)
def test_merge_aggregate_equals_oneshot(spark, rows, cut, tmp_path_factory):
    """LAW: folding any 2-way batch split through the additive MERGE
    sink equals the one-shot aggregate (commutative-monoid property
    the incremental_agg_merge oracle relies on)."""
    import os
    import uuid

    from etl_inreach_spark.sinks.upsert import merge_aggregate_partitioned

    path = os.path.join(
        str(tmp_path_factory.mktemp("merge")), uuid.uuid4().hex, "state"
    )

    def partial(rs):
        df = spark.createDataFrame(rs, "k long, v long")
        return (
            df.withColumn("bucket", F.pmod(F.col("k"), F.lit(3)))
            .groupBy("bucket", "k")
            .agg(F.sum("v").alias("v"), F.count(F.lit(1)).alias("n"))
        )

    cut = min(cut, len(rows))
    for batch in (rows[:cut], rows[cut:]):
        if batch:
            merge_aggregate_partitioned(
                spark, path, partial(batch), ["k"], ["v", "n"], "bucket"
            )
    got = {(r["k"], r["v"], r["n"]) for r in spark.read.parquet(path).collect()}
    want = {
        (r["k"], r["v"], r["n"]) for r in partial(rows).collect()
    }
    assert got == want


def test_connected_components_star_shared_leaf_regression(spark):
    """Regression for the premature fixed-point detection: after one
    large/small-star round a LEAF can hold edges to two different
    roots (the glue merging those roots next round) — e.g. two stars
    meeting at a shared node. Declaring a star forest on root/leaf
    DISJOINTNESS alone stops before the roots merge; the detector must
    also require every leaf to appear exactly once."""
    from etl_inreach_spark.operators.dedup import connected_components_star

    cases = [
        [(1, 3), (2, 3)],                       # shared leaf, two roots
        [(5, 9), (6, 9), (6, 7), (5, 8)],        # two stars glued at 9
        [(10, 12), (11, 12), (11, 13), (10, 14), (13, 15)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["component"] for r in connected_components_star(df).collect()}
        nodes = {x for e in edges for x in e}
        lo = min(nodes)
        assert got == {x: lo for x in nodes}, (edges, got)


# --- layout primitives (operators/zorder.py) --------------------------

zpoints = st.lists(
    st.tuples(st.integers(-(10**9), 10**9), st.integers(-(10**9), 10**9)),
    min_size=1,
    max_size=24,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=zpoints)
def test_zvalue_pipeline_matches_python_replica(spark, data):
    """End-to-end (minmax_bucket -> zvalue) parity with exact Python
    integer/float math on arbitrary signed inputs, including
    single-value domains (span 1) and extreme spans."""
    from etl_inreach_spark.operators.zorder import minmax_bucket, zvalue

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(data)], "i long, a long, b long"
    )
    los = {c: min(v[j] for v in data) for j, c in enumerate("ab")}
    his = {c: max(v[j] for v in data) for j, c in enumerate("ab")}
    bits = 16
    out = df.select(
        "i",
        zvalue(
            [
                minmax_bucket(F.col(c), F.lit(los[c]), F.lit(his[c]), bits)
                for c in "ab"
            ],
            bits,
        ).alias("z"),
    ).collect()

    def bucket(x, lo, hi):
        import math

        return math.floor((x - lo) * (1 << bits) / (hi - lo + 1))

    def zval(ba, bb):
        return sum(((ba >> i) & 1) << (2 * i) for i in range(bits)) + sum(
            ((bb >> i) & 1) << (2 * i + 1) for i in range(bits)
        )

    expect = {
        i: zval(
            bucket(a, los["a"], his["a"]), bucket(b, los["b"], his["b"])
        )
        for i, (a, b) in enumerate(data)
    }
    assert {r["i"]: r["z"] for r in out} == expect
    # buckets stay in range => codes stay in [0, 2^(2*bits))
    assert all(0 <= r["z"] < 1 << (2 * bits) for r in out)

"""Integer PageRank: bit-exact parity with an independent pure-Python
replica, plus the invariants that make the fixed-point form safe.
The operator reads ``neighbour_sets`` built from (order, part) bucket
rows; each test edge is its own order of two parts."""

from __future__ import annotations

from etl_inreach_spark.operators.graph import neighbour_sets, pagerank_integer

SCALE = 1 << 20


def _replica(edges, iters=3, scale=SCALE, d_num=17, d_den=20):
    sym = {}
    for u, v in edges:
        sym.setdefault(u, []).append(v)
        sym.setdefault(v, []).append(u)
    n = len(sym)
    rank = {u: scale // n for u in sym}
    for _ in range(iters):
        base = (d_den - d_num) * scale // (d_den * n)
        nxt = {}
        for u, nbrs in sym.items():
            c = rank[u] // len(nbrs)
            for v in nbrs:
                nxt[v] = nxt.get(v, 0) + c
        rank = {v: base + d_num * s // d_den for v, s in nxt.items()}
    return rank


BUCKETS = "l_orderkey bigint, l_partkey bigint"


def _bucket_rows(edges):
    return [(o, p) for o, edge in enumerate(edges) for p in edge]


def _ranks(df):
    return {r.part_id: r.rank_scaled for r in pagerank_integer(neighbour_sets(df)).collect()}


def _spark_ranks(spark, edges):
    return _ranks(spark.createDataFrame(_bucket_rows(edges), BUCKETS))


EDGES = [
    (1, 2),
    (1, 3),
    (2, 3),
    (3, 4),
    (4, 5),
    (5, 6),
    (2, 6),
    (6, 7),
]


class TestPagerankInteger:
    def test_matches_python_replica_exactly(self, spark):
        assert _spark_ranks(spark, EDGES) == _replica(EDGES)

    def test_shared_orders_count_each_pair_once(self, spark):
        # (1, 2) shares orders 10, 11 and 13; orders 10 and 12 hold three
        # parts, and order 13 lists part 2 twice. Each distinct pair is one
        # edge: it counts once in the degree and once in the sums.
        orders = {10: [1, 2, 3], 11: [1, 2], 12: [2, 3, 4], 13: [2, 1, 2], 14: [4, 5]}
        rows = [(o, p) for o, parts in orders.items() for p in parts]
        edges = {(u, v) for ps in orders.values() for u in ps for v in ps if u < v}
        assert edges == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)}
        assert _ranks(spark.createDataFrame(rows, BUCKETS)) == _replica(sorted(edges))

    def test_partition_invariant(self, spark):
        rows = _bucket_rows(EDGES)
        r1 = _ranks(spark.createDataFrame(rows, BUCKETS).repartition(1))
        r7 = _ranks(spark.createDataFrame(rows, BUCKETS).repartition(7))
        assert r1 == r7

    def test_hub_outranks_leaf(self, spark):
        ranks = _spark_ranks(spark, EDGES)
        # node 3 (degree 3 hub) must outrank node 7 (leaf)
        assert ranks[3] > ranks[7]

    def test_total_mass_bounded_by_scale(self, spark):
        # floors only ever LOSE mass: total stays within [0, scale]
        ranks = _spark_ranks(spark, EDGES)
        assert 0 < sum(ranks.values()) <= SCALE

    def test_no_python_udf_and_no_cartesian(self, spark):
        df = spark.createDataFrame(_bucket_rows(EDGES), BUCKETS)
        plan = pagerank_integer(neighbour_sets(df))._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


def test_pagerank3_build_budget(spark, sf_dir):
    """The neighbour-set build runs at most half of the edge-list
    form's 10 eager build jobs at sf0.001, warm, and its one
    checkpoint is the only one the query takes."""
    from etl_inreach_spark.queries import all_queries
    from perfbench.trace import Tracer, count_materializations
    from tools import measure as m

    build = all_queries()["pagerank3_copurchase"]
    build(spark, sf_dir)  # a cold first read of the table runs one more job
    tracer = Tracer()
    with count_materializations(type(spark.range(1)), tracer):
        rec = m.measure(spark, "test:pagerank3_budget", lambda: build(spark, sf_dir))
    assert rec["build_jobs"] <= 5
    assert tracer.counters["operators.checkpoints"] == 1

"""Integer PageRank: bit-exact parity with an independent pure-Python
replica, plus the invariants that make the fixed-point form safe."""

from __future__ import annotations

from etl_inreach_spark.operators.graph import pagerank_integer

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


def _spark_ranks(spark, edges, iters=3):
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    out = pagerank_integer(df, iters=iters)
    return {r.part_id: r.rank_scaled for r in out.collect()}


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

    def test_partition_invariant(self, spark):
        df1 = spark.createDataFrame(EDGES, "u bigint, v bigint").repartition(1)
        df7 = spark.createDataFrame(EDGES, "u bigint, v bigint").repartition(7)
        r1 = {r.part_id: r.rank_scaled for r in pagerank_integer(df1).collect()}
        r7 = {r.part_id: r.rank_scaled for r in pagerank_integer(df7).collect()}
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
        df = spark.createDataFrame(EDGES, "u bigint, v bigint")
        plan = pagerank_integer(df)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

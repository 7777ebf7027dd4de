"""Graph operators over pair relations: co-occurrence edge building
and distributed triangle counting — the graph-analytics tail of the
dedup pipeline (near-dup pairs ARE an edge relation; triangles measure
cluster cliquishness) and a standard analytics-engine capability.

Scale design:
  * ``cooccurrence_edges`` is bucketed pair expansion — the same
    contract as LSH banding (operators/text_dedup._bucket_pairs):
    candidate pairs come only from within a (bucket, key) group, so
    cost is sum of per-bucket |users|^2, never corpus^2. Buckets are
    bounded by construction (a time window x event type); a skewed
    bucket is an input-data property the caller sees in the group
    sizes, not a silent plan explosion.
  * ``triangle_counts`` is the edge-iterator algorithm on a
    degree-oriented adjacency list (Suri & Vassilvitskii's "last
    reducer" setting): orient every edge from its lower-(degree, id)
    endpoint, build each node's out-neighbor array, and for each edge
    (u, v) emit the common out-neighbors array_intersect(N+(u), N+(v))
    — exactly the triangles through that edge. With the orientation,
    out-degrees are bounded by ~sqrt(|E|), so per-edge work is
    O(sqrt(|E|)) and total work O(|E|^1.5) regardless of hub degree —
    same asymptotics as the two-path + closing-edge join formulation,
    but the only materialized stream is the ACTUAL triangle set, not
    the two-path candidates (measured ~25x fewer intermediate rows and
    ~3x wall-clock on the sf0.1 co-purchase graph, whose density makes
    two-path volume explode). Orientation never changes the result
    (each triangle has exactly one acyclic orientation under any total
    order), pinned by a pytest test against a hand-listed triangle set.
    Joins are equi-joins on bigint node ids; the adjacency side is |V|
    rows bounded per-row by the sqrt(|E|) out-degree cap, so AQE may
    broadcast it when small and shuffle-join it at cluster scale. No
    UDFs, no cartesian products.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Output node column of the graph operators: the co-purchase graph's parts.
NODE_COL = "part_id"


def cooccurrence_edges(df: DataFrame) -> DataFrame:
    """Distinct undirected edges (u < v) between ``l_partkey`` nodes
    sharing an ``l_orderkey`` (the co-purchase graph). Rendered as
    distinct-membership self-join on the bucket key — pairs expand only
    within a bucket."""
    m = df.select(F.col("l_orderkey"), F.col("l_partkey").alias("_n")).distinct()
    a = m.alias("a")
    b = m.alias("b")
    cond = (F.col("a._n") < F.col("b._n")) & (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
    return (
        a.join(b, cond)
        .select(F.col("a._n").alias("u"), F.col("b._n").alias("v"))
        .distinct()
    )


def _orient(edges: DataFrame) -> DataFrame:
    """Acyclic orientation of undirected (u < v) edges from the
    lower-(degree, id) endpoint."""
    deg = (
        edges.select(F.col("u").alias("_n"))
        .unionByName(edges.select(F.col("v").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    du = deg.select(F.col("_n").alias("u"), F.col("_d").alias("_du"))
    dv = deg.select(F.col("_n").alias("v"), F.col("_d").alias("_dv"))
    e = edges.join(du, "u").join(dv, "v")
    # total order: (degree, id) — strict comparison is well-defined
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("v"),
    )


def triangles(edges: DataFrame) -> DataFrame:
    """All triangles (x, y, z) of the undirected graph, each exactly
    once. ``edges`` must be distinct undirected pairs with u < v.

    Edge-iterator rendering: build the oriented out-adjacency array
    per node, recover each edge (u, v) by EXPLODING that adjacency
    (collect_list then explode is the identity on the edge multiset,
    and the exploded row already carries u's array — so the first of
    the two former adjacency joins, and its shuffle of both sides,
    disappears; r12), join the v-side adjacency on, and intersect —
    each common out-neighbor w closes a triangle (u, v, w), emitted
    as (x, y, z) = (u, v, w). The remaining join shuffles exactly
    what the old second join shuffled: (u, v, _nu) by v. Unlike the
    previous two-path + closing-edge join formulation this never
    materializes the two-path candidate stream (49M rows on the
    sf0.1 co-purchase graph for 1.8M actual triangles); the per-edge
    intersection happens inside one codegen stage over JVM arrays.
    An eager localCheckpoint of the oriented relation was measured
    SLOWER here (6.8 s vs 4.3 s min-of-4) — the double-consumed
    subtree is cheap relative to the checkpoint's serialization
    barrier."""
    o = _orient(edges)
    adj = o.groupBy("u").agg(F.collect_list("v").alias("_nbrs"))
    return (
        adj.select("u", F.col("_nbrs").alias("_nu"), F.explode("_nbrs").alias("v"))
        .join(adj.select(F.col("u").alias("v"), F.col("_nbrs").alias("_nv")), "v")
        .select(
            F.col("u").alias("x"),
            F.col("v").alias("y"),
            F.explode(F.array_intersect("_nu", "_nv")).alias("z"),
        )
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(part_id, n_triangles): how many triangles each node participates
    in. Nodes in no triangle are absent (join back against the node
    set for a dense output)."""
    tri = triangles(edges)
    # ONE pass over the triangle stream: explode each triangle into its
    # three member rows inside the same stage. (A union of three
    # selects of ``tri`` re-executes the whole triangle pipeline three
    # times — measured 2x end-to-end on the co-purchase graph.)
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias(NODE_COL))
        .groupBy(NODE_COL)
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Both orientations of an undirected (u < v) edge relation."""
    return edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def walk_counts(edges: DataFrame, length: int) -> DataFrame:
    """Per-node count of walks of ``length`` steps leaving the node —
    the integer power-iteration skeleton (w_{i+1} = A @ w_i on the
    symmetric adjacency). Eigenvector/PageRank centrality is this loop
    with a float damping term; the counts variant keeps every sum in
    bigint so the result is EXACT and engine-portable (float power
    iteration would hash-diverge on summation order, which is why the
    oracle-gated query ships this form).

    Each round is one equi-join of the |E|-sized symmetric edge list
    against the |V|-sized weight vector plus a groupBy-sum — map-side
    partial agg, shuffle keyed on node id both times, no UDFs. Rounds
    are a fixed small constant (the query pins 3), so lineage stays
    shallow — but the symmetric edge list is MATERIALIZED once anyway:
    every round's plan references it, and an unmaterialized sym would
    re-run the (possibly expensive) upstream edge build — e.g. the
    co-purchase distinct self-join — once per round plus once for the
    degree seed (measured ~2x end-to-end on walk3_centrality).
    """
    # Inner checkpoint LAZY (r11): sym's eager materialization job
    # computes the edge build and persists it en route (2 jobs -> 1).
    # sym stays eager — every round references it.
    sym = symmetrize(
        edges.localCheckpoint(eager=False)
    ).localCheckpoint(eager=True)
    w = sym.groupBy(F.col("u").alias(NODE_COL)).agg(
        F.count(F.lit(1)).alias("walks")
    )
    for _ in range(length - 1):
        w = (
            sym.join(w, sym["v"] == w[NODE_COL])
            .groupBy(sym["u"].alias(NODE_COL))
            .agg(F.sum("walks").alias("walks"))
        )
    return w


# Integer PageRank: ranks on a 2^20 fixed-point grid, damping 17/20 = 0.85.
PR_SCALE = 1 << 20
PR_D_NUM = 17
PR_D_DEN = 20


def pagerank_integer(
    edges: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Damped PageRank in EXACT integer arithmetic: ranks live on the
    PR_SCALE = 2^20 fixed-point grid, the damping factor is the rational
    PR_D_NUM/PR_D_DEN = 17/20 = 0.85, and every division is an
    explicit floor — so the result is bit-identical on any
    partitioning/schedule AND renderable verbatim in a DuckDB oracle
    (`div` here == `//` there; all operands non-negative, so
    truncation IS floor on both engines). A float PageRank is
    deterministic only up to summation order — the same reason the
    k-means trainer (operators/clustering.py) went integer.

    Per iteration: r'(v) = (d_den-d_num)*scale // (d_den*N)
                          + d_num * SUM_{u->v}(r(u) // deg(u)) // d_den
    with scale = PR_SCALE, d_num = PR_D_NUM, d_den = PR_D_DEN
    — exactly ONE |E|-edge equi-join against the |V|-row rank vector
    plus ONE partial-agg groupBy per iteration (the walk_counts loop
    with the damping added). Two lineage/plan rules make that true:

    * the source degree is FOLDED INTO the edge list once (``sym_deg``
      = (u, v, deg(u)), localCheckpointed), so the per-edge
      contribution ``rank div deg`` is computed inline during the
      aggregation and no second join back to a degree relation runs
      per round — measured ~2x per-iteration over the join-back form;
    * each iteration's rank vector is consumed exactly once. A first
      draft joined state to its own derived sums, doubling the
      unmaterialized rank subtree every round — 2^iters replay of the
      edge build, measured 21 s cold / 76 s by the third run at
      sf0.1 vs ~3 s for this linear form.

    N is read by ONE bounded 1-row collect at build time (r12) off the
    degree relation the eager sym_deg checkpoint has just persisted —
    the same frozen-at-build discipline as the nearest-cell centroid
    collect and the nation-chain VALUES relation. The r11 form rode N
    as a broadcast 1-row aggregate instead (no driver collect), but
    that subtree is NOT shared across iterations: the initial plan
    rebuilt the aggregate + BroadcastExchange + BroadcastNestedLoopJoin
    once per iteration plus once for the seed (4x at iters=3), each a
    broadcast-build job AQE cannot always dedupe, and the cross joins
    blocked nothing else from simplifying. Inlining N as a literal
    deletes every one of those operators; the two integer expressions
    (seed rank, damping base) floor-divide identically in Python and
    Spark (all operands non-negative). Frozen-at-build caveat: callers
    that swap the upstream edge relation after build would keep the old
    N — same contract as the quantizer collect. ``edges`` must be
    distinct undirected pairs with u < v; symmetrization gives every
    node degree >= 1, so the floor division never sees zero and no
    node drops from the sums (every node has an in-edge).
    """
    # Only the LAST checkpoint in the chain is eager (r11): sym_deg's
    # materialization job computes edges -> sym -> deg in one pass,
    # persisting each lazy link as it goes (3 jobs -> 1-2; the deg
    # broadcast build, when the planner picks it, is the only extra).
    # sym_deg itself must be materialized before the loop — every
    # iteration references it, and an unmaterialized sym_deg would
    # re-run the upstream edge build once per round.
    sym = symmetrize(edges.localCheckpoint(eager=False))
    deg = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .localCheckpoint(eager=False)
    )
    sym_deg = sym.join(deg, "u").localCheckpoint(eager=True)
    # bounded: one bigint. deg's RDD is already persisted by sym_deg's
    # checkpoint job, so this scans |V| cached rows. max(n, 1) only
    # guards the Python division on an EMPTY edge relation — deg (and
    # so every downstream relation) has zero rows then, the literals
    # are never observed, and the result is empty either way.
    n = max(deg.count(), 1)
    base = (PR_D_DEN - PR_D_NUM) * PR_SCALE // (PR_D_DEN * n)
    state = deg.select("u", F.lit(PR_SCALE // n).cast("bigint").alias("_rank"))
    for _ in range(iters):
        sums = (
            sym_deg.join(state, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.sum(F.expr("_rank div _deg")).alias("_s"))
        )
        state = sums.select(
            "u",
            F.expr(f"{base}L + ({PR_D_NUM}L * _s) div {PR_D_DEN}L").alias("_rank"),
        )
    return state.select(
        F.col("u").alias(NODE_COL), F.col("_rank").alias("rank_scaled")
    )

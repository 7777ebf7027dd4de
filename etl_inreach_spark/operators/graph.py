"""Graph operators over pair relations: co-occurrence edge building,
distributed triangle counting and integer power iteration — the
graph-analytics tail of the dedup pipeline (near-dup pairs ARE an edge
relation; triangles measure cluster cliquishness) and a standard
analytics-engine capability.

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
  * ``walk_counts`` and ``pagerank_integer`` run over ``neighbour_sets``,
    the |V|-row adjacency-list form of the same graph, checkpointed
    once. A round joins |V| neighbour rows to the |V|-row vector and
    explodes the contributions into a partial-agg sum, instead of
    shuffling a symmetrized |E|-row edge list (the RDD paper's
    ``links.join(ranks).flatMap(contribs)``).
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


def neighbour_sets(df: DataFrame) -> DataFrame:
    """(u, _nbrs): each ``l_partkey`` node with the array of the
    distinct other parts that share an ``l_orderkey`` with it — the
    co-purchase graph of ``cooccurrence_edges`` as |V| adjacency rows,
    localCheckpointed once, eagerly.

    Two partial-aggregated shuffles and no join: a ``collect_set`` of
    parts per order, then each part paired with the rest of its
    order's set (``explode`` + ``array_remove``) and a ``collect_set``
    of neighbours per part. A pair that shares several orders counts
    once, as ``distinct`` does in the edge form. A part that never
    shares an order with another part has no neighbour and no row.

    Row bounds: an order's set is one row of its distinct parts, and
    the pair stream expands only within an order (sum of per-order
    |parts|^2, the ``cooccurrence_edges`` contract). A hub's
    neighbour set is ONE row of deg(hub) longs, built by a map-side
    partial ``collect_set`` before the shuffle; the rounds that
    consume it explode it inside one task, so its row size is the
    skew term (the same as ``triangles``' adjacency arrays).
    """
    orders = df.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("_set"))
    pairs = orders.select(F.explode("_set").alias("u"), "_set").select(
        "u", F.explode(F.array_remove("_set", F.col("u"))).alias("_v")
    )
    return (
        pairs.groupBy("u")
        .agg(F.collect_set("_v").alias("_nbrs"))
        .localCheckpoint(eager=True)
    )


def _push(src: DataFrame, value: str) -> DataFrame:
    """(u, _s): SQL ``value`` of every ``src`` row summed into
    each of the row's neighbours — an explode plus a partial-agg sum
    keyed on node id. On symmetric adjacency, pushing along
    out-neighbours is the same sum as pulling from in-neighbours."""
    return (
        src.select(F.explode("_nbrs").alias("u"), F.expr(value).alias("_c"))
        .groupBy("u")
        .agg(F.sum("_c").alias("_s"))
    )


def walk_counts(nbrs: DataFrame, length: int) -> DataFrame:
    """Per-node count of walks of ``length`` steps leaving the node —
    the integer power-iteration skeleton (w_{i+1} = A @ w_i on the
    symmetric adjacency). Eigenvector/PageRank centrality is this loop
    with a float damping term; the counts variant keeps every sum in
    bigint so the result is EXACT and engine-portable (float power
    iteration would hash-diverge on summation order, which is why the
    oracle-gated query ships this form).

    ``nbrs`` is ``neighbour_sets``' checkpointed (u, _nbrs) relation.
    The seed w_1 = deg = size(_nbrs) needs no shuffle, and w_2 pushes
    it straight from ``nbrs``. Each later round joins the |V|
    neighbour rows to the |V|-row weight vector, explodes and sums
    with a partial aggregate: no |E|-row relation is ever shuffled.
    """
    seed = "CAST(size(_nbrs) AS BIGINT)"
    w = nbrs.select("u", F.expr(seed).alias("_s"))
    for i in range(length - 1):
        # round 2 reads w_1 = size(_nbrs) off nbrs itself: no join
        w = _push(nbrs.join(w, "u"), "_s") if i else _push(nbrs, seed)
    return w.select(F.col("u").alias(NODE_COL), F.col("_s").alias("walks"))


# Integer PageRank: ranks on a 2^20 fixed-point grid, damping 17/20 = 0.85,
# three power iterations.
PR_SCALE = 1 << 20
PR_D_NUM = 17
PR_D_DEN = 20
PR_ITERS = 3


def pagerank_integer(nbrs: DataFrame) -> DataFrame:
    """Damped PageRank in EXACT integer arithmetic: ranks live on the
    PR_SCALE = 2^20 fixed-point grid, the damping factor is the rational
    PR_D_NUM/PR_D_DEN = 17/20 = 0.85, and every division is an
    explicit floor — so the result is bit-identical on any
    partitioning/schedule AND renderable verbatim in a DuckDB oracle
    (`div` here == `//` there; all operands non-negative, so
    truncation IS floor on both engines). A float PageRank is
    deterministic only up to summation order — the same reason the
    k-means trainer (operators/clustering.py) went integer.

    Per iteration (PR_ITERS of them):
        r'(v) = (d_den-d_num)*scale // (d_den*N)
                + d_num * SUM_{u~v}(r(u) // deg(u)) // d_den
    with scale = PR_SCALE, d_num = PR_D_NUM, d_den = PR_D_DEN, over
    ``neighbour_sets``' checkpointed (u, _nbrs) relation, where
    deg(u) = size(_nbrs). This is the adjacency-list PageRank of the
    RDD paper (``links.join(ranks).flatMap(contribs)``): each u
    pushes r(u) // deg(u) to every neighbour, so one iteration is ONE
    join of the |V| neighbour rows to the |V|-row rank vector, an
    explode and ONE partial-agg groupBy. The first iteration needs no
    join at all: the seed rank scale // N is the same for every node.
    Each iteration's rank vector is consumed exactly once, so the
    unmaterialized rank subtree grows linearly with the rounds.

    N is read by ONE bounded 1-row collect at build time: the row
    count of the checkpointed ``nbrs``, which scans |V| cached rows.
    Inlining N as a literal keeps every round free of a 1-row
    aggregate and its broadcast; the two integer expressions (seed
    rank, damping base) floor-divide identically in Python and Spark
    (all operands non-negative). Frozen-at-build caveat: callers that
    swap the upstream relation after build keep the old N — same
    contract as the quantizer collect. Every node in ``nbrs`` has
    degree >= 1, so the floor division never sees zero, and adjacency
    is symmetric, so every node receives a sum and none drops out.
    """
    # bounded: one bigint. max(n, 1) only guards the Python division on
    # an EMPTY relation: every downstream relation is empty then, the
    # literals are never observed, and the result is empty either way.
    n = max(nbrs.count(), 1)
    base = (PR_D_DEN - PR_D_NUM) * PR_SCALE // (PR_D_DEN * n)
    state = None
    for i in range(PR_ITERS):
        # the seed rank is one literal for every node: round 1 reads nbrs alone
        src, rank = (nbrs.join(state, "u"), "_rank") if i else (nbrs, f"{PR_SCALE // n}L")
        state = _push(src, f"{rank} div size(_nbrs)").select(
            "u",
            F.expr(f"{base}L + ({PR_D_NUM}L * _s) div {PR_D_DEN}L").alias("_rank"),
        )
    return state.select(
        F.col("u").alias(NODE_COL), F.col("_rank").alias("rank_scaled")
    )

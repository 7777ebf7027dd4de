"""Keyed-argmax / latest-per-key deduplication.

Re-expresses the reference's one real aggregation — the per-device
"keep the newest position report" hash-map upsert
(reference task.ts:92,151-159) — as Spark aggregations.

Exact semantics preserved (SURVEY.md §2.3.1-2):
  * strict ``>`` comparison => on timestamp ties the EARLIEST-SEEN row
    wins (task.ts:154). We need an explicit arrival-order column for
    that to be deterministic under Spark parallelism.
  * NULL timestamps compare as epoch 0 (``time ?? 0``, task.ts:154):
    a null-time row never replaces anything and is replaced by any
    timestamped row.

Scale notes:
  * ``latest_by_key`` renders the argmax as
    ``max_by(struct(*), ordering_struct)`` — a hash aggregation with
    map-side partial aggregation, so the shuffle carries one row per
    (partition, key) instead of every row. This is the 100 TB path:
    shuffle volume ~ |keys|, not |rows|. The window rendering (full
    shuffle + per-partition sort) lives in tests/references.py, which
    checks the aggregation against it; ``topk_by_key`` is the window
    form for k>1.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_inreach_spark.functions.sql import ident

# Epoch-0 stand-in for NULL event times ("time ?? 0", task.ts:154).
EPOCH0 = "to_timestamp('1970-01-01 00:00:00')"


def _ordering_struct(ts_col: str, arrival_col: str | None) -> str:
    """Struct whose lexicographic MAX is the row the reference keeps.

    Timestamp ascending-max picks the latest; on ties, the smallest
    arrival index must win, so arrival enters NEGATED (max of -arrival
    = min arrival = first seen).
    """
    ts = f"coalesce({ident(ts_col)}, {EPOCH0}) AS ts"
    if arrival_col is None:
        return f"struct({ts})"
    return f"struct({ts}, -{ident(arrival_col)} AS neg_arrival)"


def latest_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    arrival_col: str | None = None,
) -> DataFrame:
    """One row per key: max timestamp, first-seen on ties.

    Aggregation rendering: partial-agg friendly, one shuffle keyed on
    ``key_cols`` carrying ~|keys| rows after map-side combine.
    """
    cols = [ident(c) for c in df.columns]
    row = f"struct({', '.join(cols)})"
    picked = f"max_by({row}, {_ordering_struct(ts_col, arrival_col)}) AS _row"
    out = df.groupBy(*key_cols).agg(F.expr(picked))
    return out.selectExpr(*[f"_row.{c} AS {c}" for c in cols])


def topk_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Generalization of the argmax to k>1 (SURVEY.md §2.2 top-k row).

    Window row_number over an explicit deterministic ordering. At scale
    this is one shuffle on the keys + a bounded per-key sort; AQE
    handles skewed keys.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


# Round bounds of the two label-propagation loops; exceeding one raises.
CC_MAX_ROUNDS = 25
STAR_MAX_ROUNDS = 40


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components over an undirected pair relation —
    the pairs -> clusters step every dedup pipeline ends with
    (canonical representative = min id reachable from each node).

    Iterative min-label propagation: symmetrize the edges, seed each
    node's label with its own id, then repeatedly take the min of a
    node's label and its neighbors' labels until a fixpoint. Each
    round is one shuffle (join on node id + groupBy min) and the round
    count is bounded by the graph diameter — duplicate-cluster graphs
    are shallow (near-cliques), so convergence is fast. The iteration
    is a driver LOOP over DataFrame ops with ONE action per round
    (r12): the round's label aggregation also computes each node's
    PREVIOUS label (a marker column through the union), the convergence
    witness is ``max(component != _prev)`` over that same relation, and
    the per-round lineage cut is a LAZY localCheckpoint that the
    witness aggregation materializes (it scans every partition, so no
    fill-in job is left behind). The r11 form ran 2 actions per round —
    an eager checkpoint plus a separate 2-join edge-agreement count
    whose broadcasts alone cost ~4 jobs; the label-change witness needs
    one extra (quiet) round to observe the fixpoint but folds the
    witness into the propagation aggregation for free, which measured
    strictly fewer jobs (dedup_clusters 25 -> ~15). For graphs with
    genuinely long chains swap the propagation for large-star/
    small-star (alternating min to root), which contracts diameter
    logarithmically — same dataflow shape per round.

    ``edges`` holds the pairs as (id_a, id_b). Returns (id, component)
    — every node that appears in ``edges``, labeled with the smallest
    id in its component. Raises after CC_MAX_ROUNDS rounds without a
    fixpoint.
    """
    # The (possibly expensive) edge relation is still computed ONCE —
    # the union references the edge subtree twice, and an
    # uncheckpointed plan (e.g. the whole PPJoin pair generation) would
    # execute it twice — but the whole seed chain is LAZY except the
    # last link (r12): the labels checkpoint's job runs
    # edges -> sym -> seed groupBy in one pass, persisting each lazy
    # link en route (BlockManager block locks dedupe the union's two
    # concurrent scans of ``e``). Every round then reads the sym
    # checkpoint. Was 3 eager jobs (e, sym, labels) for the same passes.
    e = edges.select(F.col("id_a").alias("_n"), F.col("id_b").alias("_m")).localCheckpoint(
        eager=False
    )
    sym = e.unionByName(
        e.select(F.col("_m").alias("_n"), F.col("_n").alias("_m"))
    ).localCheckpoint(eager=False)
    # Seed = the state AFTER the FIRST propagation round (r12): with
    # identity labels, round 0's neighbor-min is just min(_m) per _n —
    # one groupBy over sym, NO join — so folding it into the seed costs
    # the same shuffle the old distinct seed paid while saving an
    # entire join round (near-clique duplicate graphs converge in 1-2
    # rounds, so this is a third of the loop's actions). The loop below
    # therefore runs rounds 1..; with its quiet confirmation round the
    # accepted diameter stays exactly CC_MAX_ROUNDS, as before.
    labels = (
        sym.groupBy("_n")
        .agg(F.least(F.min("_m"), F.col("_n")).alias("component"))
        .select(F.col("_n").alias("id"), "component")
    ).localCheckpoint(eager=True)
    converged = False
    for _ in range(CC_MAX_ROUNDS):
        nb = (
            sym.join(labels, sym["_m"] == labels["id"])
            .select(F.col("_n").alias("id"), F.col("component"))
        )
        # One shuffle: labels ∪ neighbor-labels, min per id. The _old
        # marker lets the SAME aggregation recover the previous label
        # (every id has exactly one old row, so the conditional min is
        # never null) — the convergence witness rides the round's one
        # action instead of re-joining sym against the new labels.
        new_labels = (
            labels.withColumn("_old", F.lit(True))
            .unionByName(nb.withColumn("_old", F.lit(False)))
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_old"), F.col("component"))).alias("_prev"),
            )
            .localCheckpoint(eager=False)
        )
        # The witness aggregation is the round's ONE action; it scans
        # every partition of the lazy checkpoint, materializing it for
        # the next round / the caller. NULL (empty graph) counts as
        # converged.
        chg = new_labels.agg(
            F.max(F.col("component") != F.col("_prev")).alias("_chg")
        ).collect()[0]["_chg"]
        labels = new_labels.select("id", "component")
        if not chg:
            converged = True
            break
    if not converged:
        # Partially-propagated labels are silently WRONG component ids —
        # a graph whose diameter exceeds CC_MAX_ROUNDS (long duplicate
        # chains) must fail loudly, not dedup against bogus canonicals.
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} rounds "
            "(labels were still changing); the edge graph's diameter exceeds "
            "that fixed bound — use connected_components_star, which "
            "converges in O(log^2 n) rounds"
        )
    return labels


def connected_components_star(edges: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — the log-diameter escalation for graphs where plain
    min-label propagation (diameter-bounded rounds) is too slow, e.g.
    long duplicate chains.

    Per round, with N(u) the current neighborhood and
    m(u) = min(N(u) ∪ {u}):
      * large-star rewires every STRICTLY LARGER neighbor to m(u):
        {(v, m(u)) : v ∈ N(u), v > u};
      * small-star rewires the smaller-or-equal neighbors and u
        itself: {(v, m(u)) : v ∈ N(u), v < u} ∪ {(u, m(u))}.
    Both preserve connectivity and strictly shrink tree height; the
    edge set converges to a star forest rooted at each component's
    minimum id in O(log^2 n) rounds (O(log n) observed). Each
    contraction is rendered as ONE window-min over the symmetrized
    relation (r12) — min(_m) per _n attached in place — instead of a
    groupBy-min joined back: the join-back form shuffles the partial
    aggregate AND the symmetrized relation (or pays a broadcast build
    per contraction), while the window form pays exactly one exchange
    keyed the same way, so it is never more shuffled bytes and at
    sf0.1 measured ~half the AQE stage-materialization jobs per round.
    Convergence is a star-forest witness plus an (count, xor-hash)
    no-progress fingerprint, both computed by ONE two-level
    aggregation per round whose full scan also materializes the
    round's LAZY localCheckpoint (the lineage cut).

    Returns (id, component) for every node in ``edges``, component =
    min id of the node's component — identical contract (and a pinned
    property-test equivalence) to ``connected_components``.
    """
    # The (possibly expensive) edge relation is computed ONCE: the
    # canonicalized loop input below AND the final `nodes` union read
    # the e0 checkpoint — without it the full pair generation would
    # execute three times (measured 12.0 -> 4.9 s min-of-4 on
    # dedup_clusters_star at sf0.1 in r11). e0 itself is LAZY (r12):
    # cur's eager seed job scans it fully and persists it en route,
    # one job instead of two for the same pass.
    e0 = edges.select(
        F.col("id_a").alias("_a"), F.col("id_b").alias("_b")
    ).localCheckpoint(eager=False)
    cur = (
        e0.filter(F.col("_a") != F.col("_b"))
        .select(
            F.least("_a", "_b").alias("_a"), F.greatest("_a", "_b").alias("_b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_fp = None
    wn = Window.partitionBy("_n")
    for _ in range(STAR_MAX_ROUNDS):
        # large-star: rewire every strictly-larger neighbor to
        # m(u) = least(min N(u), u), attached by a window min (one
        # exchange, no join-back).
        sym = cur.select(F.col("_a").alias("_n"), F.col("_b").alias("_m")).unionByName(
            cur.select(F.col("_b").alias("_n"), F.col("_a").alias("_m"))
        )
        large = sym.select(
            "_n", "_m", F.least(F.min("_m").over(wn), F.col("_n")).alias("_root")
        ).filter(F.col("_m") > F.col("_n")).select(
            F.col("_m").alias("_a"), F.col("_root").alias("_b")
        )
        # LAZY intermediate (r12): the small-star's consumption below
        # scans every partition (both union branches), so the round's
        # single action materializes this checkpoint too — the eager
        # form paid a separate job per round for the same pass.
        cur = (
            large.filter(F.col("_a") != F.col("_b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # small-star on the large-star output, as ONE window pass:
        # row_number tags one row per _n group so the (u, m(u)) self
        # edge is emitted exactly once, through the same explode that
        # emits the smaller-or-equal neighbors — the old two-branch
        # union re-evaluated the joined subtree twice. The explode is
        # over a 2-slot array whose inapplicable slots are NULL
        # (node ids are non-null, so the null filter drops exactly the
        # inapplicable slots) — type-generic and whole-stage-codegen.
        sym = cur.select(F.col("_a").alias("_n"), F.col("_b").alias("_m")).unionByName(
            cur.select(F.col("_b").alias("_n"), F.col("_a").alias("_m"))
        )
        wmin = F.min("_m").over(wn)
        wrn = F.row_number().over(wn.orderBy("_m"))
        small = (
            sym.select(
                "_n", "_m",
                F.least(wmin, F.col("_n")).alias("_root"),
                wrn.alias("_rn"),
            )
            .select(
                F.explode(
                    F.array(
                        F.when(F.col("_m") <= F.col("_n"), F.col("_m")),
                        F.when(F.col("_rn") == 1, F.col("_n")),
                    )
                ).alias("_v"),
                "_root",
            )
            .filter(F.col("_v").isNotNull())
        )
        cur = (
            small.filter(F.col("_v") != F.col("_root"))
            .select(F.col("_root").alias("_a"), F.col("_v").alias("_b"))
            .distinct()
            # LAZY (r12): the witness aggregation below is the round's
            # ONE action; its union scans every partition of this
            # checkpoint, so materialization rides the witness job (the
            # r11 fill-in caveat applied to the old LIMIT-1 witness,
            # whose probe subtree did NOT scan all partitions).
            .localCheckpoint(eager=False)
        )
        # Star-forest witness — after small-star every edge is
        # (_root < _v) oriented, so the edge set is a DISJOINT star
        # forest with minimal roots iff (a) no node appears both as a
        # root (_a) and a leaf (_b), AND (b) no leaf appears twice
        # (small-star deliberately produces multi-rooted leaves as the
        # glue that merges roots next round, caught by the union-find
        # property test, so (a) alone is NOT enough). Rendered with the
        # no-progress fingerprint as ONE two-level aggregation: tag
        # each node occurrence with its side, per-node partial
        # (root-seen, leaf-count, xor of the _a-side pair hashes), then
        # a global fold. xor is order-insensitive and overflow-free (a
        # SUM of xxhash64 can overflow bigint under ANSI); two-level
        # bit_xor composes because xor is associative and the aggregate
        # skips NULLs (the _b-side rows carry no hash).
        per = cur.select(
            F.col("_a").alias("_x"),
            F.lit(1).alias("_isa"),
            F.lit(0).alias("_isb"),
            F.xxhash64("_a", "_b").alias("_ph"),
        ).unionByName(
            cur.select(
                F.col("_b").alias("_x"),
                F.lit(0).alias("_isa"),
                F.lit(1).alias("_isb"),
                F.lit(None).cast("bigint").alias("_ph"),
            )
        )
        chk = (
            per.groupBy("_x")
            .agg(
                F.max("_isa").alias("_a1"),
                F.sum("_isb").alias("_bc"),
                F.expr("bit_xor(_ph)").alias("_hx"),
            )
            .agg(
                F.max(
                    ((F.col("_a1") == 1) & (F.col("_bc") > 0))
                    | (F.col("_bc") > 1)
                ).alias("bad"),
                F.expr("bit_xor(_hx)").alias("h"),
                F.sum("_bc").alias("n"),
            )
            .collect()[0]
        )
        if not chk["bad"]:
            break
        if prev_fp == (chk["n"], chk["h"]):
            break
        prev_fp = (chk["n"], chk["h"])
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in its fixed bound "
            f"of {STAR_MAX_ROUNDS} rounds — pathological input (should not "
            "happen: star contraction converges in O(log^2 n))"
        )
    # cur is now a star forest (root=_a < leaf=_b). Labels: leaves map
    # to their root, roots (and any node present only as a root) to
    # themselves.
    nodes = (
        e0.select(F.col("_a").alias("id"))
        .unionByName(e0.select(F.col("_b").alias("id")))
        .distinct()
    )
    leaf_labels = cur.select(F.col("_b").alias("id"), F.col("_a").alias("component"))
    return (
        nodes.join(leaf_labels, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )

"""Relational operators: broadcast config join, anchored time-window
filter, as-of join (SURVEY.md §2.2 joins row, O5).

Scale notes per operator are in the docstrings — these are the pieces
where shuffle strategy decides whether 100 TB works.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Fact-to-dimension join, broadcasting the dim side.

    The idiomatic rendering of the reference's closure-captured config
    (task.ts:68,121,128): config rows are KBs, so they ship to every
    executor and the join is shuffle-free. Dims too large for executor
    memory belong in a plain ``join``, where Catalyst picks
    sort-merge/shuffled-hash.
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def filter_recent(df: DataFrame) -> DataFrame:
    """O5 (task.ts:80-82) — keep rows whose ``ts`` is within 30 minutes of
    an anchor.

    The reference pushes ``d1 = now - 30min`` to the server; the batch
    analog anchors on max(ts) for determinism (FIXTURES.md §5). The
    anchor aggregate is a 1-row DataFrame broadcast-joined in — at any
    scale this is one cheap pre-pass (min/max come from parquet
    footer stats) plus a shuffle-free join; the comparison itself is
    codegen'd.
    """
    anchor_df = df.agg(F.max(F.col("ts")).alias("_anchor"))
    return (
        df.join(F.broadcast(anchor_df))
        .filter(F.col("ts") >= F.col("_anchor") - F.expr("INTERVAL 30 minutes"))
        .drop("_anchor")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    direction: str = "backward",
) -> DataFrame:
    """As-of join of two (``user_id``, ``ts``, ...) relations: ``left``
    plus ``asof_ts``, the ``ts`` of one matched right row of the same
    user. ``direction="backward"`` (default): the LATEST right row with
    ``right.ts <= left.ts``. ``direction="forward"``: the EARLIEST
    right row with ``right.ts >= left.ts`` — the same one-window
    rendering with the timeline walked in reverse, so both directions
    share every scale property below.

    Implemented as UNION + single window pass (the scale path): tag
    both sides, sort each key's timeline once, and carry the last seen
    right-side values forward with ``last(..., ignorenulls=True)``.
    One shuffle on the key, no per-row range probe, no O(n*m) key
    blow-up — this survives 100 TB where a range-condition join (which
    Spark plans as a broadcast-nested-loop or exploding theta join)
    does not. Right rows sort BEFORE left rows on timestamp ties, so
    an exactly-simultaneous right row is visible (<= semantics).
    """
    from pyspark.sql.types import StructField, StructType

    lcols = left.columns
    # The right ts travels as a one-field struct carried by
    # last(ignorenulls): left rows hold a NULL struct (skipped whole),
    # right rows a non-null struct even when the ts FIELD is NULL.
    vals_type = StructType([StructField("ts", right.schema["ts"].dataType, True)])
    tagged_left = left.select(
        *[F.col(c) for c in lcols],
        F.lit(1).alias("_side"),
        F.lit(None).cast(vals_type).alias("_vals"),
        F.col("ts").alias("_ts"),
    )
    tagged_right = right.select(
        *[
            F.col(k) if k == "user_id" else F.lit(None).cast(left.schema[k].dataType).alias(k)
            for k in lcols
        ],
        F.lit(0).alias("_side"),
        F.struct(F.col("ts").alias("ts")).alias("_vals"),
        F.col("ts").alias("_ts"),
    )
    unioned = tagged_left.unionByName(tagged_right)
    # (_ts, _side) needs no tie-break for `last` to be deterministic:
    # right rows that tie on both carry equal structs (ts = _ts), and
    # left rows carry a NULL struct that `last(ignorenulls)` skips.
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    # forward = the same carry walked in reverse timeline order:
    # descending ts with right still sorting before left on ties keeps
    # the >= (respectively <=) boundary row visible to `last`.
    ts_order = F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *[F.col(c) for c in lcols],
        F.col("_side"),
        F.last(F.col("_vals"), ignorenulls=True).over(w).alias("_vals"),
    )
    return (
        carried.filter(F.col("_side") == 1)
        .select(*[F.col(c) for c in lcols], F.col("_vals.ts").alias("asof_ts"))
    )


def salted_agg(df: DataFrame, aggs: dict[str, tuple[Column, str]]) -> DataFrame:
    """Two-stage skew-safe aggregation per ``event_type``: rows are
    salted into 16 sub-keys, partially aggregated per (key, salt), then
    merged per key. The first shuffle spreads a hot key over 16 reducers; the
    second handles one row per (key, salt) — negligible.

    ``aggs`` maps output column name -> (stage1_expr, merge) where
    ``merge`` names the stage-2 re-aggregation: 'sum' (for sum/count),
    'min', or 'max'. The decomposition is the caller's contract; for
    algebraic aggregates beyond these, pre-compose (avg = salted sum /
    salted count). The aggregate result is salt-invariant, so any salt
    assignment is correct; a seeded rand keeps runs deterministic.

    Spark's AQE skew handling covers JOIN skew; aggregation skew with
    partial aggregation is usually fine too (map-side combine), but
    this operator is the explicit pattern for extreme cardinality-1
    keys where even combined partial rows overwhelm one reducer
    (e.g., count per event_type with one type at 99%).
    """
    merge_fn = {"sum": F.sum, "min": F.min, "max": F.max}
    salted = df.withColumn("_salt", (F.rand(seed=7) * 16).cast("int"))
    stage1 = salted.groupBy("event_type", "_salt").agg(
        *[expr.alias(f"_s1_{name}") for name, (expr, _) in aggs.items()]
    )
    return stage1.groupBy("event_type").agg(
        *[
            merge_fn[merge](F.col(f"_s1_{name}")).alias(name)
            for name, (_, merge) in aggs.items()
        ]
    )


def salted_join(big: DataFrame, small: DataFrame, salt_buckets: int = 8) -> DataFrame:
    """Skew-safe inner equi-join on ``user_id`` by salting: the big side
    gets a deterministic salt in [0, salt_buckets), the small side is
    REPLICATED once per salt value, and the join runs on
    (key, salt) — a hot key's rows spread over ``salt_buckets``
    reducers instead of hammering one. Result is exactly the plain
    join (salt-invariant: every big row meets every matching small row
    exactly once, in its own salt slice).

    Cost model: small side shuffles ``salt_buckets``x — worth it only
    when the big side's key histogram is so degenerate that AQE's
    skew-join splitting (which handles MOST skew for free and is on in
    tune()) still leaves a straggler, and the small side is too big to
    broadcast outright.

    The salt is a hash of the big side's whole row (xxhash64 over all
    columns), not rand(): deterministic across retries/replays, which
    straggler re-execution at 100 TB requires.
    """
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_buckets))
    )
    small_r = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<bigint>"))
    )
    return big_s.join(small_r, on=["user_id", "_salt"], how="inner").drop("_salt")


def interval_overlap_join(left: DataFrame, right: DataFrame, band: int) -> DataFrame:
    """Interval OVERLAP join with NO equi key — pairs of (left, right)
    rows whose [start, end] ranges intersect (``[ls, le]`` on the left,
    ``[rs, re]`` on the right) —
    via band bucketing, the
    pattern that keeps a pure range theta-join off Spark's
    broadcast-nested-loop path at scale (genomic-region and
    time-interval joins).

    Each interval explodes into the ``band``-width buckets it spans;
    candidates come from an EQUI-join on the bucket id; the exact
    overlap predicate filters false candidates. A pair spanning
    several shared buckets would surface once per bucket, so instead
    of a distinct over the (wide) pair output, each pair is kept only
    in its CANONICAL bucket — the bucket of max(ls, rs),
    which both sides provably contain (it is where the overlap
    starts). Cost: sum of per-bucket |L_b| x |R_b| — the caller picks
    ``band`` near the typical interval length so intervals span O(1)
    buckets; long outlier intervals degrade gracefully (more bucket
    rows, same per-bucket math). Bounds are integral (epoch
    seconds/positions); both endpoints inclusive.

    Endpoint columns are referenced unqualified after the join, so the
    two sides must use DISTINCT endpoint names (rename before calling);
    sharing one raises ``ValueError`` here instead of an ambiguous-
    reference analysis error later.
    """
    if band <= 0:
        raise ValueError(f"band must be a positive bucket width, got {band}")
    shared = ({"ls", "le"} & set(right.columns)) | ({"rs", "re"} & set(left.columns))
    if shared:
        raise ValueError(
            "interval_overlap_join needs distinct endpoint column names "
            f"on the two sides; {sorted(shared)} exist on both — rename "
            "one side's endpoints before joining"
        )

    def banded(df: DataFrame, start: str, end: str, side: str) -> DataFrame:
        return df.withColumn(
            f"_b_{side}",
            F.explode(
                F.sequence(
                    F.floor(F.col(start) / band), F.floor(F.col(end) / band)
                )
            ),
        )

    lb = banded(left, "ls", "le", "l")
    rb = banded(right, "rs", "re", "r")
    overlap = (F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le"))
    canonical = F.col("_b_l") == F.floor(F.greatest(F.col("ls"), F.col("rs")) / band)
    return (
        lb.join(rb, F.col("_b_l") == F.col("_b_r"))
        .filter(overlap & canonical)
        .drop("_b_l", "_b_r")
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Change-data-feed GENERATION: diff two snapshots of the orders
    table into (o_orderkey, change_type in {'insert','update','delete'})
    — the inverse of cdc_latest_state (which COMPACTS a feed back
    into a snapshot). This is how a plain-parquet pipeline emits an
    incremental feed downstream when the source cannot (Delta/Iceberg
    CDF does this natively; the plan here is the same one they run).

    One full-outer equi-join on the key; rows equal on both
    ``o_orderstatus`` and ``o_totalprice`` (null-safe) are dropped, so
    the output is |changes|-sized, not |table|-sized. Comparison is per-column
    IS-NOT-DISTINCT-FROM conjunction — no hashing, so the oracle
    renders 1:1 and false "changes" are impossible (a hash would
    admit collisions the other way). At 100 TB both sides shuffle on
    the key once; with both snapshots bucketed by key the join is
    co-located and shuffle-free."""
    compared = F.struct(F.col("o_orderstatus"), F.col("o_totalprice"))
    o = old.select(F.col("o_orderkey"), compared.alias("_ov"), F.lit(True).alias("_in_old"))
    n = new.select(F.col("o_orderkey"), compared.alias("_nv"), F.lit(True).alias("_in_new"))
    j = o.join(n, on=["o_orderkey"], how="full_outer")
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(~F.col("_ov").eqNullSafe(F.col("_nv")), F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select("o_orderkey", "change_type")
    )

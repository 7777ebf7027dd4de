"""Count-min sketch as a PORTABLE relational operator: frequency
estimation over a key column in fixed space, value-oracle-able because
every cell is a deterministic SQL expression of the data.

The reference pipeline has no sketches; this extends the engine's
approximate family (KMV distinct, percentile sketches) with the
standard heavy-hitter/frequency primitive a 100 TB training-data
pipeline uses for vocabulary pruning, spam-domain capping, and skew
detection — where an exact per-key count (|keys| shuffle rows) is
affordable only once, but a CMS (depth x width cells, ~4 KB here)
can ride along every stage.

Scale design mirrors ``operators/bloom.py``:

  1. ``cms_build``: one narrow pass — each row explodes into ``depth``
     (row, pos) cells, partial aggregation collapses to <= depth*width
     rows map-side, so the shuffle is bounded by the SKETCH size, not
     the data size. Merging two sketches is the same groupBy-sum
     (counts form a commutative monoid — the property that makes CMS
     streamable and partition-parallel by construction).
  2. ``cms_estimate``: per queried key, probe the ``depth`` cells with
     broadcast left joins (missing cell = 0) and take the row-wise
     MIN — the classic one-sided estimate: est >= true count always,
     overestimate bounded by e*N/width with probability 1-e^-depth.

Hashing is the same Carter-Wegman mod-(2^31-1) affine family as
bloom.py (distinct constants per sketch row); all products stay under
2^62 so ANSI bigint arithmetic cannot overflow, and every position is
renderable 1:1 in DuckDB SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE31 = (1 << 31) - 1
# one affine (a, b) pair per sketch row; any distinct odd multipliers
# < 2^31 work — fixed here so Spark and the SQL oracle agree
ROW_HASHES: tuple[tuple[int, int], ...] = (
    (1_103_515_245, 12_345),
    (69_069, 362_437),
    (1_664_525, 1_013_904_223),
    (22_695_477, 1),
)


def _fold(key: Column) -> Column:
    return F.pmod(key.cast("bigint"), F.lit(MERSENNE31))


def cms_position(key: Column, row: int, width: int) -> Column:
    """Cell index of ``key`` in sketch row ``row`` (0-based)."""
    a, b = ROW_HASHES[row]
    return F.pmod(F.pmod(_fold(key) * F.lit(a) + F.lit(b), F.lit(MERSENNE31)), F.lit(width))


def cms_position_sql(key_expr: str, row: int, width: int) -> str:
    """The identical cell index as ANSI SQL (for DuckDB oracles)."""
    a, b = ROW_HASHES[row]
    return f"(({a} * (({key_expr}) % {MERSENNE31}) + {b}) % {MERSENNE31}) % {width}"


def cms_build(
    keys: DataFrame,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """(row: int, pos: bigint, cnt: bigint) sketch over ``keys.user_id``
    — one count per touched cell; untouched cells are implicit zeros
    (``cms_estimate`` coalesces them). The (width, depth) geometry
    rides in the ``row`` column's schema metadata, same discipline as
    ``bloom_words``: estimating against a sketch built on a different
    grid must fail loudly, not miscount."""
    if not 1 <= depth <= len(ROW_HASHES):
        raise ValueError(f"depth must be in [1, {len(ROW_HASHES)}], got {depth}")
    cells = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        cms_position(F.col("user_id"), i, width).alias("pos"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("_c")
    )
    out = (
        cells.select("_c.row", "_c.pos")
        .groupBy("row", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return out.select(
        F.col("row").alias("row", metadata={"width": width, "depth": depth}),
        "pos",
        "cnt",
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """``queries`` + an ``est_count`` column: min over the ``user_id`` key's
    ``depth`` cells (absent cell -> 0). ``depth`` broadcast left joins
    on (row, pos) — the sketch is <= depth*width rows by construction,
    so the probe is map-side and the queried relation never shuffles."""
    meta: dict = {}
    try:
        meta = dict(sketch.schema["row"].metadata or {})
    except KeyError:
        pass
    built_w, built_d = meta.get("width"), meta.get("depth")
    # Both must be present before validating — int(None) on a sketch
    # carrying width but not depth would TypeError ahead of the
    # intended ValueError (cms_build always writes both).
    if (
        built_w is not None
        and built_d is not None
        and (int(built_w), int(built_d)) != (width, depth)
    ):
        raise ValueError(
            f"cms_estimate called with (width={width}, depth={depth}) but the "
            f"sketch was built with (width={int(built_w)}, depth={int(built_d)}): "
            "probes would read a different cell grid and miscount"
        )
    # Pin the sketch ONCE: the probe loop filters it per row, and each
    # filtered broadcast would otherwise re-run the full build subtree
    # (scan + explode + groupBy) depth times. The sketch is <=
    # depth*width rows by construction, so the checkpoint is ~free.
    # LAZY (r11): first probe materializes it inside the action
    sketch = sketch.localCheckpoint(eager=False)
    out = queries
    ests = []
    for i in range(depth):
        s = sketch.filter(F.col("row") == i).select(
            F.col("pos").alias(f"_p{i}"), F.col("cnt").alias(f"_cnt{i}")
        )
        out = (
            out.withColumn(f"_q{i}", cms_position(F.col("user_id"), i, width))
            .join(F.broadcast(s), F.col(f"_q{i}") == F.col(f"_p{i}"), "left")
            .drop(f"_p{i}", f"_q{i}")
        )
        ests.append(F.coalesce(F.col(f"_cnt{i}"), F.lit(0)))
    est = ests[0] if len(ests) == 1 else F.least(*ests)
    return out.withColumn("est_count", est).drop(
        *[f"_cnt{i}" for i in range(depth)]
    )

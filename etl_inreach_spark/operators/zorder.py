"""Z-order (Morton-curve) multi-column clustering — the lakehouse
data-layout operator (Delta/Iceberg ``OPTIMIZE ZORDER BY``) that makes
min-max data skipping work for MORE THAN ONE filter column at once.

A file sorted by ``o_custkey`` prunes perfectly on custkey predicates
and not at all on ``o_totalprice``; interleaving the bits of both
columns' bucket numbers produces a single sort key whose contiguous
ranges are small RECTANGLES in (custkey, price) space, so each output
partition/file carries a tight min-max envelope on EVERY participating
column and a scan filtered on either one skips most files. This is the
100 TB table-maintenance story: at that scale full resorts per query
are impossible — you lay data out ONCE so that zonemap pruning serves
all the common predicates.

Design (all JVM-side scalar expressions, zero UDFs, one pass + one
range shuffle):

1. normalize each column to an integer bucket in [0, 2^bits) with the
   affine min-max map from a ONE-ROW broadcast aggregate (the same
   bounded-collect discipline as indexing.global_row_index) — rank
   normalization would be exact-quantile but needs a second shuffle;
   min-max is the standard zonemap-oriented choice (what Delta does);
2. interleave the bucket bits into the Morton code — a fold of
   ``(bucket >> i & 1) << (i*n_cols + j)`` terms, constant-folded by
   Catalyst into one codegen expression (bit counts are Python-literal
   ints, sidestepping the shiftleft literal-only pitfall);
3. ``repartitionByRange`` on the code: contiguous z-ranges land in the
   same partition, which is exactly the property writers turn into
   tight per-file column stats.

The z-value itself is a pure integer function of the input row and the
global min/max — deterministic on any cluster/partitioning, and
renderable 1:1 in ANSI SQL (the ``zorder_locality_orders`` query's
DuckDB oracle replays the same bit arithmetic).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(buckets: Sequence[Column], bits: int = 16) -> Column:
    """Morton interleave of integer bucket columns (each must already
    lie in [0, 2^bits)); column j contributes its bit i at output
    position ``i * len(buckets) + j``, so the result fits in a bigint
    for ``bits * n_cols <= 63``."""
    n = len(buckets)
    if n < 1:
        raise ValueError("zvalue needs at least one column")
    if bits * n > 63:
        raise ValueError(f"bits*n_cols must be <= 63, got {bits}*{n}")
    out = F.lit(0).cast("bigint")
    for j, b in enumerate(buckets):
        b = b.cast("bigint")
        for i in range(bits):
            # literal shift counts: Python ints, never Columns
            out = out + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + j
            )
    return out


def minmax_bucket(col: Column, lo: Column, hi: Column, bits: int = 16) -> Column:
    """Affine min-max bucket in [0, 2^bits): floor((x-lo) * 2^bits /
    (hi-lo+1)) — monotone in x, the +1 keeping x = hi inside range.

    Cross-engine portability: inputs must be INTEGER columns (cast
    timestamps to epoch, pre-scale doubles to an integer grid — a raw
    double→bigint CAST truncates on Spark but ROUNDS on DuckDB). The
    bucket itself is floor() OVER the double division, not a bigint
    cast, for the same reason; the numerator stays < 2^53 for spans up
    to ~1.4e11, so the division is exact-IEEE-identical on any
    engine."""
    span = (hi - lo).cast("bigint") + F.lit(1)
    return F.floor(
        (col.cast("bigint") - lo.cast("bigint")) * F.lit(1 << bits) / span
    ).cast("bigint")


# Bits per column of with_zvalue's Morton code.
ZORDER_BITS = 16

# The orders columns (customer key, order-date epoch seconds) that the
# Morton and Hilbert layouts cluster on.
LAYOUT_COLS = ("o_custkey", "o_secs")


def with_zvalue(df: DataFrame) -> DataFrame:
    """Append the ZORDER_BITS-per-column Morton code of ``LAYOUT_COLS``
    as ``_zvalue``: one 1-row
    aggregate (broadcast) for the global min-max bounds, then pure
    scalar bit arithmetic — no shuffle of ``df`` itself."""
    cols = LAYOUT_COLS
    bounds = df.agg(
        *[F.min(c).alias(f"_lo_{c}") for c in cols],
        *[F.max(c).alias(f"_hi_{c}") for c in cols],
    )
    b = df.crossJoin(F.broadcast(bounds))
    z = zvalue(
        [
            minmax_bucket(
                F.col(c), F.col(f"_lo_{c}"), F.col(f"_hi_{c}"), ZORDER_BITS
            )
            for c in cols
        ],
        ZORDER_BITS,
    )
    return b.withColumn("_zvalue", z).drop(
        *[f"_lo_{c}" for c in cols], *[f"_hi_{c}" for c in cols]
    )


def zorder_repartition(df: DataFrame) -> DataFrame:
    """``df`` range-partitioned by the Morton code of ``LAYOUT_COLS`` (the
    OPTIMIZE ZORDER layout pass, minus the file writer). Appends the
    code as ``_zvalue`` so callers can sortWithinPartitions / write and
    tests can audit locality. One 1-row aggregate (broadcast) for the
    min-max bounds + one range shuffle into
    ``spark.sql.shuffle.partitions`` ranges; no other passes. Sampled
    range boundaries -> evenly SIZED partitions (what you want for
    shuffle/compute); ``write_zordered`` snaps boundaries to the
    z-grid instead (what you want for tight file zonemaps)."""
    return with_zvalue(df).repartitionByRange(F.col("_zvalue"))


def write_zordered(df: DataFrame, path: str, num_files: int = 16) -> None:
    """Write ``df`` as parquet laid out by the Morton code of
    ``LAYOUT_COLS``: one file per cell of the top-bits z-GRID, rows sorted
    by the full code WITHIN each file, so every file's min-max
    envelope is one small rectangle in column space and every ROW
    GROUP inside it is an even smaller one — both the file-skipping
    layer (zonemaps / table-format metadata at 100 TB) and Spark's
    own parquet row-group filter pushdown benefit without any reader
    cooperation. The z column itself is dropped: the layout IS the
    artifact; readers filter on the original columns.

    Boundary choice matters: SAMPLED range boundaries (what
    ``zorder_repartition`` does, and the right call for balancing
    compute) land mid-grid-cell, so file envelopes straddle cells and
    a measured 10%-of-domain predicate still touched 75% of 16 files.
    Snapping boundaries to the top ``log2(num_files)`` z-bits trades
    file-size evenness (cells hold whatever rows fall in them) for
    envelopes that ARE grid cells: the same predicate touches <= 50%,
    scaling down with file count. num_files is rounded down to a
    power of two; empty cells write no file."""
    k = max(1, (num_files).bit_length() - 1)  # floor(log2)
    total = ZORDER_BITS * len(LAYOUT_COLS)
    z = with_zvalue(df)
    zq = F.shiftright(F.col("_zvalue"), total - k)
    (
        z.withColumn("_zcell", zq)
        .repartitionByRange(1 << k, F.col("_zcell"))
        .sortWithinPartitions("_zcell", "_zvalue")
        .drop("_zvalue", "_zcell")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_envelopes(path: str) -> "list[dict]":
    """Per-file min-max envelopes on ``LAYOUT_COLS`` read straight from the
    parquet footers (pyarrow, no data pages touched) — the same
    metadata a lakehouse zonemap/file-skipping index serves. Audit /
    planning utility: runs on the driver over footers only, never row
    data, so it is metadata-bounded (one footer per file) exactly like
    the table-format manifest scan it stands in for."""
    import pathlib

    import pyarrow.parquet as pq

    out = []
    for f in sorted(pathlib.Path(path).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        env: dict = {"file": f.name, "rows": md.num_rows}
        for c in LAYOUT_COLS:
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names[c]).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            env[c] = (lo, hi)
        out.append(env)
    return out


def files_to_read(envelopes: "list[dict]", col: str, lo, hi) -> "list[str]":
    """The files a zonemap-pruned scan of ``col BETWEEN lo AND hi``
    must actually read: those whose [min, max] envelope intersects
    the predicate range (a file with no stats must be read). The
    prune FRACTION 1 - len(files_to_read)/len(envelopes) is the
    quantity the z-order layout exists to maximize on every
    participating column at once."""
    keep = []
    for e in envelopes:
        emin, emax = e[col]
        if emin is None or (emax >= lo and emin <= hi):
            keep.append(e["file"])
    return keep

# --- Hilbert curve (2-D) ----------------------------------------------
#
# A contiguous MORTON range straddling a high-bit boundary covers a
# huge bounding box (the curve jumps corner-to-corner), which is why
# sampled size-balanced file boundaries measured 75% read fractions
# above and write_zordered had to snap to the grid (trading file-size
# evenness away). The HILBERT curve has unit-step locality — every
# consecutive pair of codes is grid-adjacent — so contiguous ranges
# have tight envelopes wherever the boundaries fall: sampled
# boundaries give even file sizes AND tight zonemaps at once (the
# property behind Databricks' liquid-clustering switch to Hilbert).
#
# Spark-first realization: the per-bit state-machine loop is
# inherently sequential, and unrolling it as nested CASE expressions
# multiplies the expression tree per level (codegen blow-up). But the
# bucket->code mapping is DATA-INDEPENDENT: for the zonemap use case a
# 2^bits x 2^bits grid with bits<=8 (65,536 cells — two orders of
# magnitude more cells than files) is exhaustive, so we materialize
# the mapping ONCE as a 65k-row relation on the driver (microseconds
# of integer arithmetic, no data scanned) and broadcast-hash-join it
# onto the bucketized fact — one map-side join, no UDF, no shuffle
# beyond the final range partition. An r7 oracle can replay the same
# mapping with a DuckDB recursive CTE (8 iterations of the rotation
# recurrence per row).


def _hilbert_xy2d(order: int, x: int, y: int) -> int:
    """Reference scalar Hilbert index (Wikipedia xy2d), driver-side
    only — used to build the lookup relation and in test parity."""
    d = 0
    s = order >> 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def hilbert_lookup(spark, bits: int = 8) -> DataFrame:
    """The full (bx, by) -> hilbert code mapping for a 2^bits grid as
    a broadcastable relation. bits <= 10 keeps it driver-bounded
    (<= 1M rows); the default 8 (65,536 cells) is far finer than any
    realistic file count, which is what zonemap tightness needs."""
    if bits > 10:
        raise ValueError(f"hilbert_lookup bits must be <= 10, got {bits}")
    n = 1 << bits
    rows = [(x, y, _hilbert_xy2d(n, x, y)) for x in range(n) for y in range(n)]
    return spark.createDataFrame(rows, "_hx bigint, _hy bigint, _hvalue bigint")


# with_hilbert's grid: 2^8 x 2^8 cells.
HILBERT_BITS = 8


def with_hilbert(df: DataFrame) -> DataFrame:
    """Append the 2-D Hilbert code of ``LAYOUT_COLS`` as ``_hvalue``: one 1-row
    bounds aggregate (broadcast), min-max bucketize both columns to
    the 2^HILBERT_BITS grid, then broadcast-hash-join the driver-built
    (bx, by) -> code lookup — no UDF, no shuffle of ``df`` itself.
    The Hilbert layout key, exposed for querying and oracle replay (a
    DuckDB recursive CTE runs the same 8-level rotation recurrence per
    row; pinned exactly equal to the lookup for the whole 256x256
    grid)."""
    cols = LAYOUT_COLS
    spark = df.sparkSession
    bounds = df.agg(
        *[F.min(c).alias(f"_lo_{c}") for c in cols],
        *[F.max(c).alias(f"_hi_{c}") for c in cols],
    )
    b = df.crossJoin(F.broadcast(bounds))
    bx, by = (
        minmax_bucket(F.col(c), F.col(f"_lo_{c}"), F.col(f"_hi_{c}"), HILBERT_BITS)
        for c in cols
    )
    lut = hilbert_lookup(spark, HILBERT_BITS)
    return (
        b.withColumn("_hx", bx)
        .withColumn("_hy", by)
        .join(F.broadcast(lut), ["_hx", "_hy"])
        .drop("_hx", "_hy", *[f"_lo_{c}" for c in cols], *[f"_hi_{c}" for c in cols])
    )

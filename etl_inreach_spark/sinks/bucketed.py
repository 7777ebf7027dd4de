"""Bucketed-table sink: pay a relation's join/agg shuffle ONCE at
write time, then never again.

``bucketBy(n, keys)`` hash-partitions rows into ``n`` bucket files per
(table) partition and records the layout in the catalog; a subsequent
equi-join or aggregation whose keys prefix the bucket keys reads each
bucket as a pre-shuffled input and Catalyst drops the Exchange on that
side entirely (both sides bucketed with the same count -> a
sort-merge join with ZERO shuffle; ``sortBy`` at write time also drops
the per-task sort). This is the canonical 100 TB pattern for
fact-to-fact joins that recur on the same key (orders x lineitem on
orderkey every night): re-shuffling 100 TB per query is the dominant
cost, while bucketed layout moves it to one write. The same layout
serves `GROUP BY` on the bucket keys shuffle-free.

Trade-offs (documented so callers pick deliberately): bucket count is
fixed at write time (choose for target-cluster parallelism, not
today's); skewed keys skew bucket files (pre-salt or go back to AQE
skew join for those); and only equi-predicates on the bucket keys
benefit — range layout is z-order's job (operators/zorder.py).

Spark-first rationale: this is metadata-driven — the engine's own
planner removes the exchanges when the catalog proves co-partitioning;
nothing here reimplements the join.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    num_buckets: int,
    path: str | None = None,
) -> None:
    """Save ``df`` as a parquet table bucketed and sorted by ``keys`` — one up-front shuffle-equivalent write;
    every later equi-join/agg on ``keys`` against a co-bucketed table
    is exchange-free. ``path`` makes the table EXTERNAL at that
    location — needed when the catalog is per-session in-memory but
    the warehouse directory outlives it (a managed saveAsTable into a
    fresh session fails with LOCATION_ALREADY_EXISTS on the stale
    directory); bucketing metadata is recorded either way."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, keys[0], *keys[1:])
        .sortBy(keys[0], *keys[1:])
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_equijoin(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    keys: Sequence[str],
) -> DataFrame:
    """Join two co-bucketed catalog tables on their bucket keys. The
    plan this produces is the point: with both tables bucketed to the
    same count on ``keys``, the executed plan contains no
    ShuffleExchange (asserted in tests/test_bucketed.py)."""
    return spark.table(left_table).join(spark.table(right_table), list(keys))

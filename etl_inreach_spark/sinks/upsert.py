"""Keyed-upsert (MERGE) parquet sink: maintain a "latest row per key"
silver table across batches — the persistent generalization of the
reference's per-run featuresmap upsert (task.ts:92,151-159), which
rebuilds its dedup state every invocation and forgets it on exit.

``upsert_latest_partitioned`` is a dynamic-partition merge: only the
partitions PRESENT IN THE BATCH are read (partition-pruned scan) and
rewritten (``partitionOverwriteMode=dynamic``). This is the 100 TB
shape: cost scales with the touched slice, not the table. The
partition column must be a stable function of the KEY (e.g.
``pmod(xxhash64(key), N)``) so a key's old and new versions land in
the same partition and merge locally. Existence checks go through the
Hadoop FileSystem API, so any supported filesystem works.

On a production deployment the same dataflow runs against a
transactional table format (Delta/Iceberg MERGE INTO); plain parquet
directories stand in here because those libraries are not available
in-container. The merge PLAN (co-shuffle by key, partial-agg argmax,
prune untouched partitions) is the part that transfers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_inreach_spark.operators.dedup import latest_by_key


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) via the JVM Hadoop API — resolves hdfs://,
    s3a://, file:// and bare local paths alike, unlike os.path, which
    only ever sees the driver's local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _path_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def _batch_marker(path: str, batch_id: str) -> str:
    return f"{path}__applied_batches/{batch_id}"


def _batch_applied(spark: SparkSession, path: str, batch_id: str) -> bool:
    return _path_exists(spark, _batch_marker(path, batch_id))


def _mark_batch_applied(spark: SparkSession, path: str, batch_id: str) -> None:
    fs, jpath = _hadoop_fs(spark, _batch_marker(path, batch_id))
    fs.create(jpath, True).close()


def upsert_latest_partitioned(spark: SparkSession, path: str, updates: DataFrame) -> None:
    """Partition-pruned keyed upsert of (user_id, event_type) rows:
    merge and rewrite ONLY the ``bucket`` partitions the update batch
    touches, keeping the reference-semantics latest row per key by
    ``ts`` (strict ``>``: existing rows win timestamp ties, so current
    rows sort before updates; ``event_id`` orders arrivals).

    ``bucket`` must already exist on ``updates`` and be a function of
    the key. The current-table scan is filtered to the touched
    partition values (partition pruning keeps untouched data unread),
    and ``partitionOverwriteMode=dynamic`` makes the write replace
    exactly the partitions present in the merged result."""
    touched = [r[0] for r in updates.select("bucket").distinct().collect()]
    if not touched:
        return
    merged = updates
    if _path_exists(spark, path):
        current = spark.read.parquet(path).filter(F.col("bucket").isin(touched))
        merged = current.unionByName(updates)
    merged = latest_by_key(merged, ["user_id", "event_type"], "ts", arrival_col="event_id")
    # Materialize BEFORE the overwrite: merged lazily reads the same
    # path the write replaces; pinning the read result decouples
    # correctness from the writer's commit ordering.
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


def merge_aggregate_partitioned(
    spark: SparkSession,
    path: str,
    partial: DataFrame,
    key_cols: Sequence[str],
    sum_cols: Sequence[str],
    partition_col: str,
    batch_id: str | None = None,
) -> None:
    """Incremental VIEW MAINTENANCE for commutative-monoid aggregates:
    fold a batch's PARTIAL aggregate into the persisted state by
    summing per key — the additive analogue of the argmax upsert above
    (that one replaces rows; this one combines them, which is valid
    exactly because sum/count form a commutative monoid, so
    state + batch == one-shot recompute regardless of batch order or
    boundaries — the property the oracle-gated query pins).

    ``partial`` must already be aggregated to one row per key with
    bigint/decimal ``sum_cols`` (exact addition; float sums would
    drift per merge order). Only partitions the batch touches are
    read (pruned scan) and rewritten (dynamic partition overwrite);
    at 100 TB each increment costs ~|touched keys|, never a state
    rescan.

    Addition is NOT idempotent (a replayed batch double-counts), so
    pass a stable ``batch_id`` for exactly-once folding: an already-
    applied id is skipped, and a marker under ``{path}__applied_batches``
    is written after the state commit. The unprotected window is a
    crash between the data commit and the marker write — replaying
    then double-counts; a transactional table format (Delta/Iceberg
    MERGE with txn ids) closes it in production. Existence checks and
    markers go through the Hadoop FileSystem API, so any supported
    filesystem works (not just the driver's local disk)."""
    if batch_id is not None and _batch_applied(spark, path, batch_id):
        return
    touched = [r[0] for r in partial.select(partition_col).distinct().collect()]
    if not touched:
        return
    if _path_exists(spark, path):
        current = spark.read.parquet(path).filter(
            F.col(partition_col).isin(touched)
        )
        merged = (
            current.unionByName(partial)
            .groupBy(partition_col, *key_cols)
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
        )
    else:
        merged = partial
    # Pin the merged state before overwriting the path it was read from
    # (lazy read + dynamic overwrite of the same directory must not
    # depend on commit ordering).
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    if batch_id is not None:
        _mark_batch_applied(spark, path, batch_id)

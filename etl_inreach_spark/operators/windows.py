"""Time-window operators: tumbling buckets and gap sessionization
(SURVEY.md §2.2 streaming-windows row, batch renderings)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Events of one key further apart than this start a new session.
SESSION_GAP_SECONDS = 1800


def tumbling_bucket(ts: Column, width_seconds: int) -> Column:
    """Epoch-aligned tumbling window start.

    unix-seconds integer arithmetic (exact, matches DuckDB
    time_bucket for widths that divide its origin offset) rather than
    Spark's window() struct — plain column => usable as a join/group
    key with partial aggregation, and cheap to compute in codegen.
    """
    secs = F.unix_timestamp(ts)
    # pmod, not %: Spark's % follows the dividend's sign, so pre-1970
    # timestamps would bucket AFTER the event instead of flooring
    return F.timestamp_seconds(secs - F.pmod(secs, F.lit(width_seconds)))


def tumbling_agg(df: DataFrame, aggs: Sequence[Column]) -> DataFrame:
    """15-minute tumbling-window aggregation of ``ts`` per ``event_type``:
    one hash agg, partial+final."""
    bucket = tumbling_bucket(F.col("ts"), 900).alias("bucket")
    return df.groupBy(bucket, F.col("event_type")).agg(*aggs)


def sessionize(df: DataFrame, session_col: str = "session_id") -> DataFrame:
    """Gap-based sessions over ``ts`` per ``user_id``, ties broken by
    ``event_id`` arrival order: a new session starts when the time
    since the previous event of the same user exceeds
    ``SESSION_GAP_SECONDS``.

    Two window passes over ONE shuffle+sort (same partitioning and
    ordering, so Catalyst reuses the sort): lag to detect gaps, then a
    running sum to number sessions. Session ids are 1-based per key.
    """
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    prev_ts = F.lag(F.col("ts")).over(w)
    is_new = F.when(
        prev_ts.isNull()
        # timestamp subtraction yields a microsecond-precision
        # day-time interval — exact (a floor-seconds diff would
        # misclassify gaps crossing the threshold inside one second)
        # and type-agnostic: works for TIMESTAMP and TIMESTAMP_NTZ
        # alike, where unix_micros() rejects NTZ input.
        | (
            F.col("ts") - prev_ts
            > F.expr(f"INTERVAL '{SESSION_GAP_SECONDS}' SECOND")
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    running = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("_new", is_new).withColumn(
        session_col, F.sum("_new").over(running)
    ).drop("_new")

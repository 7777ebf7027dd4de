"""Cross-run latest-position state (SURVEY.md §2.2 "Streaming:
stateful ops"): the reference rebuilds its dedup map every scheduled
run (task.ts:92), so a device's latest KNOWN position is forgotten
between runs. This operator strengthens that: per-device state is kept
across micro-batches and a device's row is emitted only when its
latest position CHANGES — the true streaming argmax, with the
reference's exact comparison semantics (strict ``>``, NULL time ==
epoch 0; SURVEY.md §2.3.1-2).

State size is one fixed-width row per device — the minimum possible —
and the state store shuffles by device id, so a 100 TB feed history
costs state proportional to the FLEET size, not the event count.

Two renderings, same semantics:
  * ``latest_position_groupstate`` — applyInPandasWithState
    (GroupState API): the per-device argmax in the ENGINE's state
    store (no protobuf dependency, unlike transformWithStateInPandas);
    value-oracled via streaming_groupstate_latest.
  * ``latest_position_foreachbatch`` — foreachBatch merging each
    micro-batch into a parquet state table with the SAME batch argmax
    operator; fully portable, value-oracled via
    streaming_stateful_latest.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STATE_SCHEMA = StructType(
    [
        StructField("time_us", LongType(), True),
        StructField("arrival_idx", LongType(), True),
        StructField("lon", DoubleType(), True),
        StructField("lat", DoubleType(), True),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("id", StringType(), True),
        StructField("time", TimestampType(), True),
        StructField("lon", DoubleType(), True),
        StructField("lat", DoubleType(), True),
    ]
)


def _ts_to_us(v) -> int:
    """NULL time compares as epoch 0 (reference `time ?? 0`,
    task.ts:154)."""
    if v is None or pd.isna(v):
        return 0
    return int(pd.Timestamp(v).value // 1000)


def _merge_latest(best, from_state: bool, pdfs) -> tuple[dict | None, bool]:
    """Fold micro-batch rows into the carried best-position dict with
    the reference's exact semantics (strict ``>`` vs stored state,
    NULL time == epoch 0, within-batch ties to the smallest arrival
    index)."""
    changed = False
    for pdf in pdfs:
        for r in pdf.itertuples():
            t_us = _ts_to_us(r.time)
            arr = int(r.arrival_idx)
            replaces = (
                best is None
                or t_us > best["time_us"]
                or (
                    not from_state
                    and t_us == best["time_us"]
                    and arr < best["arrival_idx"]
                )
            )
            if replaces:
                best = {
                    "time_us": t_us,
                    "arrival_idx": arr,
                    "lon": float(r.lon) if r.lon is not None else None,
                    "lat": float(r.lat) if r.lat is not None else None,
                }
                changed = True
                from_state = False
    return best, changed


def latest_position_groupstate(features: DataFrame) -> DataFrame:
    """applyInPandasWithState rendering: per-device argmax state in the
    engine's streaming state store, emitting a device's row only when
    its latest position changes (update mode). State is one
    fixed-width row per device, shuffled by device id."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        best, from_state = None, False
        if state.exists:
            t_us, arr, lon, lat = state.get
            best = {"time_us": t_us, "arrival_idx": arr, "lon": lon, "lat": lat}
            from_state = True
        best, changed = _merge_latest(best, from_state, pdfs)
        if changed and best is not None:
            state.update(
                (best["time_us"], best["arrival_idx"], best["lon"], best["lat"])
            )
            yield pd.DataFrame(
                {
                    "id": [key[0]],
                    "time": [
                        pd.Timestamp(best["time_us"] * 1000)
                        if best["time_us"] > 0
                        else pd.NaT
                    ],
                    "lon": [best["lon"]],
                    "lat": [best["lat"]],
                }
            )

    return (
        features.select("id", "time", "arrival_idx", "lon", "lat")
        .groupBy("id")
        .applyInPandasWithState(
            fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def latest_position_foreachbatch(
    features: DataFrame,
    state_dir: str,
    emit,
) -> "DataStreamWriter":
    """Portable cross-run state without a streaming state store: each
    micro-batch is merged with a parquet state table via the same
    keyed-argmax used in batch, the state is rewritten, and rows whose
    latest position CHANGED are handed to ``emit``. Exactly the
    reference's dedup map made durable.

    The merge is the one-shuffle argmax (operators/dedup.py) over
    state ∪ batch — state size is one row per device, so the rewrite
    cost tracks fleet size, not history. For very large fleets swap
    the parquet rewrite for a Delta/Iceberg MERGE; the dataflow shape
    is identical.
    """
    from pyspark.sql import functions as F

    from etl_inreach_spark.operators.dedup import latest_by_key

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        import os

        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        cols = ["id", "time", "arrival_idx", "lon", "lat"]
        batch = batch_df.select(*cols)
        state = None
        if os.path.exists(state_dir):
            try:
                state = spark.read.parquet(state_dir).select(*cols)
            except AnalysisException:
                # empty/unreadable catalog path on a genuinely fresh dir;
                # any OTHER failure (corrupt files, IO errors) must raise
                # rather than silently discard accumulated state
                state = None
        if state is not None:
            # state rows take arrival_idx -1 so the first-seen-wins
            # tie-break prefers EXISTING state on equal timestamps
            merged_src = state.withColumn("arrival_idx", F.lit(-1).cast("long")).unionByName(batch)
        else:
            merged_src = batch
        merged = latest_by_key(merged_src, ["id"], "time", arrival_col="arrival_idx")
        merged.write.mode("overwrite").parquet(state_dir + ".next")
        next_state = spark.read.parquet(state_dir + ".next")
        if state is not None:
            # presence marker: _seen distinguishes "no prior state row"
            # from "prior state row with NULL time" (a NULL-time device
            # must not re-emit forever)
            prev = state.select(
                F.col("id").alias("_pid"),
                F.col("time").alias("_ptime"),
                F.lit(1).alias("_seen"),
            )
            epoch0 = F.to_timestamp(F.lit("1970-01-01 00:00:00"))
            changed = (
                next_state.join(prev, next_state["id"] == prev["_pid"], "left")
                .filter(
                    F.col("_seen").isNull()
                    | (
                        F.coalesce(F.col("time"), epoch0)
                        > F.coalesce(F.col("_ptime"), epoch0)
                    )
                )
                .select(*cols)
            )
        else:
            changed = next_state
        # cut lineage BEFORE the state swap: `changed` reads the files
        # deleted/moved below, so it must be materialized now, not
        # whenever the caller happens to act on it
        emit(changed.localCheckpoint(eager=True))
        # atomic-enough swap for local/posix; object stores use rename
        # or a manifest — same logic
        import shutil

        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.move(state_dir + ".next", state_dir)

    return features.writeStream.outputMode("append").foreachBatch(handle)

"""End-to-end KML pipeline correctness query.

Dresses the events table up as per-user KML MapShare feeds (one feed
per user, placemarks in event order), runs the REAL pipeline — from_xml
parse, explode, EAV pivot, unit strip, timestamp parse, broadcast
config join, argmax dedup (O6-O18) — and lets DuckDB compute the same
answer directly from events. A full-pipeline differential test: any
parity break in parse/pivot/cast/dedup shows up as a hash mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.plans.inreach import inreach_pipeline
from etl_inreach_spark.queries import query


def events_as_kml_feeds(ev: DataFrame) -> DataFrame:
    """(user_id events) -> (share_id, body) KML docs, placemarks in
    event_id order. Test-harness generator (collect_list per user is
    fine at test SF; production feeds arrive pre-built).

    r12 (§2.3/§4.1): each placemark's XML is rendered as a flat STRING
    per event row — whole-stage-codegen concat, replacing an earlier
    per-element transform() rendering that ran INTERPRETED over each
    user's placemark-struct array — and the per-user aggregation
    collects sorted strings that one array_join stitches into the
    document. Output parity with the struct form: the row-wise concat
    renders the same field expressions, and the sort key change
    (struct(event_id, pm_struct) -> struct(event_id, pm_xml)) orders
    identically — within an event_id tie the old key compared
    point_coordinates (equal: derived from the tied event_id + the
    group's user_id) then timestamp_when, while the new key compares
    the XML string whose first varying byte IS the fixed-width ISO
    timestamp_when rendering; when that ties too, both elements are
    fully equal under either key. Measured min-of-3 at sf0.1: 0.59
    (struct collect + interpreted transform) / 1.07 (narrow collect +
    interpreted post-agg rendering) / 0.33 s (this form)."""
    eid, uid = F.col("event_id"), F.col("user_id")
    when_s = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    data = lambda k, v: F.concat(  # noqa: E731
        F.lit(f'<Data name="{k}"><value>'), v.cast("string"), F.lit("</value></Data>")
    )
    base_entries = F.concat(
        data("IMEI", uid),
        data("Id", eid),
        data("Course", F.concat((eid % 360).cast("string"), F.lit(".5 ° True"))),
        data("Velocity", F.concat((eid % 200).cast("string"), F.lit(".0 km/h"))),
    )
    entries_xml = F.when(eid % 3 == 0, base_entries).otherwise(
        F.concat(base_entries, data("Text", F.concat(F.lit("msg-"), eid)))
    )
    pm_xml = F.concat(
        F.lit("<Placemark>"),
        # NULL-safe: a NULL `when`/coords drops its element, never the
        # whole placemark
        F.when(
            when_s.isNotNull(),
            F.concat(F.lit("<TimeStamp><when>"), when_s, F.lit("</when></TimeStamp>")),
        ).otherwise(F.lit("")),
        F.concat(
            F.lit("<Point><coordinates>"),
            (eid % 360).cast("string"),
            F.lit(","),
            (uid % 180).cast("string"),
            F.lit("</coordinates></Point>"),
        ),
        F.lit("<ExtendedData>"),
        entries_xml,
        F.lit("</ExtendedData></Placemark>"),
    )
    per_user = (
        ev.select(uid, F.struct(eid, pm_xml.alias("pm_xml")).alias("ox"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("ox")).alias("oxs"))
    )
    return per_user.select(
        F.concat(F.lit("S"), F.col("user_id")).alias("share_id"),
        F.concat(
            F.lit(
                '<?xml version="1.0" encoding="UTF-8"?>'
                '<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Folder>'
            ),
            F.array_join(F.transform(F.col("oxs"), lambda x: x["pm_xml"]), ""),
            F.lit("</Folder></Document></kml>"),
        ).alias("body"),
    )


@query(
    "kml_pipeline_roundtrip",
    oracle="""
    WITH latest AS (
        SELECT * FROM (
            SELECT e.*,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id ASC) AS rn
            FROM events e
        ) WHERE rn = 1
    )
    SELECT 'inreach-' || CAST(user_id AS VARCHAR) AS id,
           'CS-' || CAST(user_id AS VARCHAR) AS callsign,
           TRY_CAST(CAST(event_id % 360 AS VARCHAR) || '.5' AS DOUBLE) AS course,
           TRY_CAST(CAST(event_id % 200 AS VARCHAR) || '.0' AS DOUBLE) * 0.277778 AS speed,
           ts AS time,
           CAST(event_id % 360 AS DOUBLE) AS lon,
           CAST(user_id % 180 AS DOUBLE) AS lat,
           CAST(event_id AS VARCHAR) AS inreach_id,
           CASE WHEN event_id % 3 = 0 THEN NULL
                ELSE 'msg-' || CAST(event_id AS VARCHAR) END AS inreach_text
    FROM latest
    """,
)
def kml_pipeline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6-O18 end-to-end: events -> synthetic KML feeds -> REAL parse/
    transform/dedup pipeline; oracle computes the same from events
    directly."""
    ev = load_table(spark, sf_dir, "events")
    feeds = events_as_kml_feeds(ev)
    shares = ev.select("user_id").distinct().select(
        F.concat(F.lit("S"), F.col("user_id")).alias("share_id"),
        F.concat(F.lit("CS-"), F.col("user_id")).alias("callsign"),
        F.lit(None).cast("string").alias("password"),
    )
    out = inreach_pipeline(shares, feeds)
    return out.select(
        "id", "callsign", "course", "speed", "time", "lon", "lat", "inreach_id", "inreach_text"
    )


@query(
    "streaming_dedup_ids",
    oracle="""
    SELECT DISTINCT 'inreach-' || CAST(user_id AS VARCHAR) AS id
    FROM events
    """,
)
def streaming_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming under the correctness gate: the same KML
    feeds as kml_pipeline_roundtrip are drained through the REAL
    streaming pipeline (readStream parquet -> parse/project ->
    withWatermark -> dropDuplicatesWithinWatermark -> availableNow
    memory sink), and the emitted DEVICE-ID SET is compared to the
    oracle. Only the id set is asserted: which physical row the
    streaming dedup keeps first is partition-order-dependent, but the
    set of in-watermark device ids is deterministic. The final
    distinct() also absorbs re-emission of an id across micro-batches
    once its watermark state expires (availableNow may split batches).
    """
    import uuid

    ev = load_table(spark, sf_dir, "events")
    feeds = events_as_kml_feeds(ev)
    shares = ev.select("user_id").distinct().select(
        F.concat(F.lit("S"), F.col("user_id")).alias("share_id"),
        F.concat(F.lit("CS-"), F.col("user_id")).alias("callsign"),
        F.lit(None).cast("string").alias("password"),
    )
    import shutil

    run = uuid.uuid4().hex[:12]
    base = f"/tmp/spark_graft_stream/{run}"
    in_dir, cp_dir = f"{base}/in", f"{base}/cp"
    try:
        feeds.write.mode("overwrite").parquet(in_dir)

        from etl_inreach_spark.streaming.pipeline import stream_features

        sdf = spark.readStream.schema(feeds.schema).parquet(in_dir)
        # week-long fixture timelines: the wide watermark keeps every
        # event inside one dedup horizon so the emitted set is exactly
        # one row per device before the closing distinct()
        feat = stream_features(sdf, shares)
        table = f"stream_ids_{run}"
        q = (
            feat.select("id")
            .writeStream.format("memory")
            .queryName(table)
            .outputMode("append")
            .option("checkpointLocation", cp_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # memory-sink table lives in the session; the input+checkpoint
        # dirs are dead weight once the query terminates
        return spark.table(table).distinct()
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "streaming_stateful_latest",
    oracle="""
    SELECT id, time, lon, lat FROM (
        SELECT 'inreach-' || CAST(user_id AS VARCHAR) AS id,
               ts AS time,
               CAST(event_id % 360 AS DOUBLE) AS lon,
               CAST(user_id % 180 AS DOUBLE) AS lat,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def streaming_stateful_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming under the value-oracle gate: events become a
    per-device position stream, split into TWO micro-batches (file
    source, maxFilesPerTrigger=1), and drained through the cross-run
    state operator (streaming/stateful.latest_position_foreachbatch —
    the durable rendering of the reference's per-run dedup map,
    task.ts:92). The FINAL STATE TABLE must equal the batch argmax the
    oracle computes over all events at once — proving the cross-batch
    state merge preserves the keyed-argmax semantics (strict >, ties
    to the first-seen row) across micro-batch boundaries.

    The batch split is by timestamp (first half / second half), so
    equal-timestamp rows of one device always share a batch and the
    tie-break stays the within-batch min-arrival rule — the merged
    result is then independent of batch processing order.
    """
    import os
    import time as _time
    import uuid

    ev = load_table(spark, sf_dir, "events")
    feat = ev.select(
        F.concat(F.lit("inreach-"), F.col("user_id")).alias("id"),
        F.col("ts").alias("time"),
        F.col("event_id").alias("arrival_idx"),
        (F.col("event_id") % 360).cast("double").alias("lon"),
        (F.col("user_id") % 180).cast("double").alias("lat"),
    )
    # midpoint split: bounded 1-row collect, deterministic in the data
    lo, hi = feat.agg(F.min("time"), F.max("time")).first()
    cutoff = lo + (hi - lo) / 2

    import shutil

    run = uuid.uuid4().hex[:12]
    base = f"/tmp/spark_graft_stream/{run}"
    in_dir, cp_dir, state_dir = f"{base}/in", f"{base}/cp", f"{base}/state"
    try:
        os.makedirs(in_dir, exist_ok=True)
        for i, half in enumerate(
            (feat.filter(F.col("time") <= F.lit(cutoff)),
             feat.filter(F.col("time") > F.lit(cutoff)))
        ):
            # one file per half => one micro-batch per half under
            # maxFilesPerTrigger=1; the sleep orders file mtimes so the
            # source replays halves chronologically (result is argmax-
            # order-independent anyway; this keeps runs reproducible)
            half.coalesce(1).write.mode("overwrite").parquet(f"{base}/stage{i}")
            part = next(
                f for f in os.listdir(f"{base}/stage{i}") if f.endswith(".parquet")
            )
            os.rename(f"{base}/stage{i}/{part}", f"{in_dir}/batch{i}.parquet")
            _time.sleep(0.05)

        from etl_inreach_spark.streaming.stateful import latest_position_foreachbatch

        sdf = (
            spark.readStream.schema(feat.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        writer = latest_position_foreachbatch(sdf, state_dir, emit=lambda df: df.count())
        q = (
            writer.option("checkpointLocation", cp_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # the result lives in the about-to-be-removed state dir: pin it
        # in executor storage (eager localCheckpoint, 150 rows) so the
        # returned DataFrame survives the finally-rmtree
        return (
            spark.read.parquet(state_dir)
            .select("id", "time", "lon", "lat")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "streaming_groupstate_latest",
    oracle="""
    SELECT id, time, lon, lat FROM (
        SELECT 'inreach-' || CAST(user_id AS VARCHAR) AS id,
               ts AS time,
               CAST(event_id % 360 AS DOUBLE) AS lon,
               CAST(user_id % 180 AS DOUBLE) AS lat,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def streaming_groupstate_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENGINE-state rendering of streaming_stateful_latest:
    applyInPandasWithState keeps one argmax row per device in the
    streaming state store across two micro-batches and emits a
    device's row on change (update mode). The emitted delta stream is
    reduced to its per-device final row (each device's emitted time is
    strictly increasing — re-emission requires a strictly later
    timestamp), which must hash-match the batch argmax over all
    events. Same timestamp-split batches as streaming_stateful_latest,
    so within-batch ties resolve by min arrival on both paths."""
    import os
    import time as _time
    import uuid

    ev = load_table(spark, sf_dir, "events")
    feat = ev.select(
        F.concat(F.lit("inreach-"), F.col("user_id")).alias("id"),
        F.col("ts").alias("time"),
        F.col("event_id").alias("arrival_idx"),
        (F.col("event_id") % 360).cast("double").alias("lon"),
        (F.col("user_id") % 180).cast("double").alias("lat"),
    )
    lo, hi = feat.agg(F.min("time"), F.max("time")).first()
    cutoff = lo + (hi - lo) / 2

    import shutil

    run = uuid.uuid4().hex[:12]
    base = f"/tmp/spark_graft_stream/{run}"
    in_dir, cp_dir = f"{base}/in", f"{base}/cp"
    try:
        os.makedirs(in_dir, exist_ok=True)
        for i, half in enumerate(
            (feat.filter(F.col("time") <= F.lit(cutoff)),
             feat.filter(F.col("time") > F.lit(cutoff)))
        ):
            half.coalesce(1).write.mode("overwrite").parquet(f"{base}/stage{i}")
            part = next(
                f for f in os.listdir(f"{base}/stage{i}") if f.endswith(".parquet")
            )
            os.rename(f"{base}/stage{i}/{part}", f"{in_dir}/batch{i}.parquet")
            _time.sleep(0.05)

        from etl_inreach_spark.operators.dedup import latest_by_key
        from etl_inreach_spark.streaming.stateful import latest_position_groupstate

        sdf = (
            spark.readStream.schema(feat.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        table = f"gs_latest_{run}"
        q = (
            latest_position_groupstate(sdf)
            .writeStream.format("memory")
            .queryName(table)
            .outputMode("update")
            .option("checkpointLocation", cp_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = spark.table(table)
        return latest_by_key(emitted, ["id"], "time").select("id", "time", "lon", "lat")
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "upsert_merge_roundtrip",
    oracle="""
    SELECT user_id, event_type, ts, CAST(value AS DOUBLE) AS value FROM (
        SELECT user_id, event_type, ts, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def upsert_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed-upsert (MERGE) sink under the value gate: events are
    split by timestamp midpoint into two update batches and applied in
    order through sinks.upsert.upsert_latest_partitioned (hash-of-key
    partition column, dynamic partition overwrite, partition-pruned
    current scan). The final silver table must hash-match the global
    per-(user, event_type) argmax — proving the incremental MERGE
    converges to the same answer as a one-shot batch, with the
    arrival tie-break surviving the batch boundary."""
    import shutil
    import uuid

    ev = load_table(spark, sf_dir, "events")
    feat = ev.select(
        "user_id", "event_type", "ts", "value", "event_id",
        F.pmod(F.xxhash64("user_id"), F.lit(8)).alias("bucket"),
    )
    lo, hi = feat.agg(F.min("ts"), F.max("ts")).first()
    cutoff = lo + (hi - lo) / 2

    from etl_inreach_spark.sinks.upsert import upsert_latest_partitioned

    run = uuid.uuid4().hex[:12]
    path = f"/tmp/spark_graft_upsert/{run}/silver"
    try:
        for half in (
            feat.filter(F.col("ts") <= F.lit(cutoff)),
            feat.filter(F.col("ts") > F.lit(cutoff)),
        ):
            upsert_latest_partitioned(spark, path, half)
        out = spark.read.parquet(path).select(
            "user_id", "event_type", "ts", F.col("value").cast("double").alias("value")
        )
        # the sink table is deleted on return; sever the plan's file
        # dependency first
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(f"/tmp/spark_graft_upsert/{run}", ignore_errors=True)
    return out


def _drain_windowed_stream(spark, sf_dir, table_prefix, window_agg):
    """Shared streaming-window fixture: write the events slice to a
    per-run parquet dir, drain readStream -> ``window_agg(sdf)`` into
    a complete-mode memory sink with availableNow, return the sink
    table, and ALWAYS rm the fixture+checkpoint dirs (the /tmp
    accumulation hazard from ADVICE r3 — fixing the drain pattern here
    fixes every windowed streaming query at once)."""
    import shutil
    import uuid

    ev = load_table(spark, sf_dir, "events")
    run = uuid.uuid4().hex[:12]
    base = f"/tmp/spark_graft_stream/{run}"
    in_dir, cp_dir = f"{base}/in", f"{base}/cp"
    try:
        ev.select("ts", "event_type").write.mode("overwrite").parquet(in_dir)
        sdf = spark.readStream.schema("ts timestamp, event_type string").parquet(in_dir)
        table = f"{table_prefix}_{run}"
        q = (
            window_agg(sdf)
            .writeStream.format("memory")
            .queryName(table)
            .outputMode("complete")
            .option("checkpointLocation", cp_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(table)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "streaming_tumbling_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed aggregation under the value gate: events
    drained through readStream -> window(15 min) groupBy -> complete-
    mode memory sink with availableNow. Complete mode re-emits the
    full aggregate at the final trigger, so the sink table equals the
    batch tumbling aggregation exactly — the streaming rendering of
    tumbling_15min_counts (window().start == the epoch-aligned bucket
    for widths that divide the hour)."""

    def agg(sdf):
        return (
            sdf.groupBy(F.window("ts", "15 minutes").alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("bucket"), "event_type", "n")
        )

    return _drain_windowed_stream(spark, sf_dir, "stream_tumble", agg)


@query(
    "streaming_sliding_counts",
    oracle="""
    WITH off AS (SELECT unnest([0, 15, 30, 45]) AS m)
    SELECT time_bucket(INTERVAL '60 minutes', ts - m * INTERVAL '1 minute')
             + m * INTERVAL '1 minute' AS win_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events CROSS JOIN off
    GROUP BY 1, 2
    """,
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING-window aggregation (1 h window, 15 min slide)
    under the value gate — each event lands in 4 overlapping windows,
    the streaming analog of the batch RANGE-frame query. readStream ->
    window(1h, 15m) -> complete-mode memory sink with availableNow;
    complete mode re-emits the final aggregate, so the sink equals the
    batch computation. The oracle derives the same 4 windows per event
    by bucketing each of the 4 phase-shifted grids (time_bucket of the
    shifted ts, shifted back) — exactly Spark's window-expansion
    semantics for slide < width."""

    def agg(sdf):
        return (
            sdf.groupBy(
                F.window("ts", "60 minutes", "15 minutes").alias("w"),
                F.col("event_type"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("win_start"), "event_type", "n")
        )

    return _drain_windowed_stream(spark, sf_dir, "stream_slide", agg)

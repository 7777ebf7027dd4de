"""GeoJSON FeatureCollection sink (reference O17/O22,
task.ts:115-149,172-182).

The flat feature table is re-nested into Feature structs with
``to_json`` (JVM-side), emitted one JSON text per row. The
FeatureCollection wrapper is applied per POST batch — the reference
sends ONE FeatureCollection per run (task.ts:172-182); at scale we
batch per partition instead of collecting everything to one node.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_inreach_spark.functions.nested import feature_struct, point_geometry
from etl_inreach_spark.functions.units import to_iso8601


def _drop_null_fields(c: Column) -> Column:
    # GeoJSON omits absent optional properties (TS `undefined` keys
    # simply don't serialize); to_json(ignoreNullFields=true) matches.
    return F.to_json(c, {"ignoreNullFields": "true"})


def features_to_json(features: DataFrame) -> DataFrame:
    """Flat silver feature rows -> (id, feature_json string).

    Mirrors the reference's Feature shape (task.ts:115-149): properties
    incl. the links array and metadata struct, Point geometry.
    """
    metadata = F.struct(
        F.col("inreach_id").alias("inreachId"),
        F.col("inreach_name").alias("inreachName"),
        F.col("inreach_device_type").alias("inreachDeviceType"),
        F.col("inreach_imei").alias("inreachIMEI"),
        F.col("inreach_incident_id").alias("inreachIncidentId"),
        F.col("inreach_valid_fix").alias("inreachValidFix"),
        F.col("inreach_text").alias("inreachText"),
        F.col("inreach_event").alias("inreachEvent"),
        F.col("inreach_device_id").alias("inreachDeviceId"),
        to_iso8601(F.col("inreach_receive")).alias("inreachReceive"),
    )
    links = F.array(
        F.struct(
            # the self-link uid is the FEATURE's own id ('inreach-<IMEI>',
            # task.ts:114,125: `uid: id`), not the inReach message id
            F.col("id").alias("uid"),
            F.lit("r-u").alias("relation"),
            F.lit("text/html").alias("mime"),
            F.col("link_url").alias("url"),
            F.lit("Garmin Portal").alias("remarks"),  # task.ts:129
        )
    )
    properties = F.struct(
        F.col("callsign").alias("callsign"),
        F.col("course"),
        F.col("speed"),
        to_iso8601(F.col("time")).alias("time"),
        to_iso8601(F.col("start")).alias("start"),
        links.alias("links"),
        metadata.alias("metadata"),
    )
    feature = feature_struct(
        F.col("id"),
        properties,
        point_geometry(F.col("lon"), F.col("lat")),
    )
    return features.select(F.col("id"), _drop_null_fields(feature).alias("feature_json"))


def post_feature_collections(
    features_json: DataFrame,
    poster: Callable[[str], None],
    batch_size: int = 1000,
) -> int:
    """O22 — batched sink: per partition, wrap features into
    FeatureCollection documents of ``batch_size`` and hand each to
    ``poster`` (an HTTP POST in production, a collector in tests).

    foreachPartition => executor-side, no driver collect; one POST per
    batch, never per row (the reference also batches: one POST per
    run, task.ts:172-182).
    """
    count = features_json.sparkSession.sparkContext.accumulator(0)

    def send(rows: Iterator) -> None:
        batch: list[str] = []

        def flush() -> None:
            if batch:
                poster(
                    '{"type":"FeatureCollection","features":[' + ",".join(batch) + "]}"
                )
                count.add(len(batch))
                batch.clear()

        for row in rows:
            batch.append(row["feature_json"])
            if len(batch) >= batch_size:
                flush()
        flush()

    features_json.foreachPartition(send)
    return count.value


def parse_feature_collection(doc: str) -> list[dict]:
    """Test helper: FeatureCollection JSON -> list of feature dicts."""
    parsed = json.loads(doc)
    if parsed["type"] != "FeatureCollection":
        raise ValueError(f"not a FeatureCollection: {parsed['type']!r}")
    return parsed["features"]

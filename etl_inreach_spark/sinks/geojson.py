"""GeoJSON FeatureCollection sink (reference O17/O22,
task.ts:115-149,172-182).

The flat feature table is re-nested into Feature structs with
``to_json`` (JVM-side), emitted one JSON text per row. The
FeatureCollection wrapper is applied per POST batch — the reference
sends ONE FeatureCollection per run (task.ts:172-182); at scale we
batch per partition instead of collecting everything to one node.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame

from etl_inreach_spark.functions.units import to_iso8601


def _named_struct(**fields: str) -> str:
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"


def features_to_json(features: DataFrame) -> DataFrame:
    """Flat silver feature rows -> (id, feature_json string).

    Mirrors the reference's Feature shape (task.ts:115-149): properties
    incl. the links array and metadata struct, Point geometry. GeoJSON
    omits absent optional properties (TS ``undefined`` keys simply don't
    serialize); ``to_json`` with ``ignoreNullFields`` matches.
    """
    metadata = _named_struct(
        inreachId="inreach_id",
        inreachName="inreach_name",
        inreachDeviceType="inreach_device_type",
        inreachIMEI="inreach_imei",
        inreachIncidentId="inreach_incident_id",
        inreachValidFix="inreach_valid_fix",
        inreachText="inreach_text",
        inreachEvent="inreach_event",
        inreachDeviceId="inreach_device_id",
        inreachReceive=to_iso8601("inreach_receive"),
    )
    # the self-link uid is the FEATURE's own id ('inreach-<IMEI>',
    # task.ts:114,125: `uid: id`), not the inReach message id
    link = _named_struct(
        uid="id",
        relation="'r-u'",
        mime="'text/html'",
        url="link_url",
        remarks="'Garmin Portal'",  # task.ts:129
    )
    properties = _named_struct(
        callsign="callsign",
        course="course",
        speed="speed",
        time=to_iso8601("time"),
        start=to_iso8601("start"),
        links=f"array({link})",
        metadata=metadata,
    )
    # Point geometry (task.ts:145-148). Coordinates are POSITIONAL: a
    # malformed lon/lat stays NULL in its slot (the reference emits NaN
    # -> JSON null there), never filtered out, which would shift latitude
    # into the longitude slot. The reference parseFloat-maps EVERY CSV
    # component (task.ts:105-107), so a 3-component string whose third
    # part fails to parse yields [lon, lat, null]; the altitude slot is
    # absent only when the string had fewer than 3 components
    # (``n_coords``). Components beyond the third are not represented in
    # the flat feature table.
    geometry = _named_struct(
        type="'Point'",
        coordinates="CASE WHEN n_coords >= 3 THEN array(lon, lat, alt) ELSE array(lon, lat) END",
    )
    feature = _named_struct(id="id", type="'Feature'", properties=properties, geometry=geometry)
    return features.selectExpr(
        "id", f"to_json({feature}, map('ignoreNullFields', 'true')) AS feature_json"
    )


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

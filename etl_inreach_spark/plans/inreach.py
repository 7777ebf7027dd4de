"""The full inReach pipeline — the reference's control() body
(task.ts:60-183) as one declarative DataFrame plan.

Stages (all one logical plan; Catalyst fuses the narrow parts):
  shares config normalize (O1-O4)
  -> KML parse/explode (O7-O9, sources/kml.py)
  -> per-placemark feature projection (O10-O17, without the config)
  -> per-device latest-position dedup (O18)
  -> broadcast join of the normalized config (callsign)
  -> flat silver feature table (FIXTURES.md §4)
The GeoJSON FeatureCollection nesting is applied only at the sink
(sinks/geojson.py), keeping the analytic table flat.

Join order: the config never affects the dedup key ``(share_id, id)``
or its ordering, so the dedup runs first and the config joins onto the
survivors (eager aggregation, Yan & Larson, VLDB 1995). The join then
sees |devices| rows instead of |placemarks|, the dedup shuffle does not
carry the callsign, and the config broadcast and the feed-read stage
are independent leaf stages that AQE runs side by side.

Each stage is one ``selectExpr``/``filter`` over SQL text
(functions/sql.py): a stage costs a few py4j round trips per column
instead of several per ``functions.*`` call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_inreach_spark.functions.nested import coord, map_get, split_coordinates
from etl_inreach_spark.functions.strings import (
    default_fill,
    normalize_share_id,
    share_link_url,
    strip_unit_to_double,
    surrogate_key,
)
from etl_inreach_spark.functions.units import kmh_to_ms
from etl_inreach_spark.operators.dedup import latest_by_key
from etl_inreach_spark.operators.relational import broadcast_dim_join
from etl_inreach_spark.sources.kml import js_try_to_timestamp, kml_to_placemarks


def normalize_shares(shares: DataFrame) -> DataFrame:
    """O1-O4: config scan + share-id normalize + callsign default.

    Input schema (FIXTURES.md §1): share_id, callsign?, password?.
    """
    share = normalize_share_id("share_id")
    return shares.selectExpr(
        f"{share} AS share_id",
        f"{default_fill('callsign', share)} AS callsign",
        "password",
    )


def _extended(key: str, name: str) -> str:
    return f"{map_get('extended', key)} AS {name}"


def project_features(placemarks: DataFrame) -> DataFrame:
    """O10-O17 without the config: placemark rows -> flat feature rows
    (FIXTURES.md §4 minus ``callsign``). Null-Point rows are dropped
    (O10, task.ts:103). The event time parses with the same
    ``new Date()``-grammar parser as the feed-error verdict
    (sources/kml.js_try_to_timestamp), so a feed KEPT by the error
    check never yields NULL times here; NULL-safe otherwise (invalid
    date analog, SURVEY.md §2.3.6)."""
    coords = split_coordinates("point_coordinates")
    t = js_try_to_timestamp("timestamp_when")
    return placemarks.filter("point_coordinates IS NOT NULL").selectExpr(
        "share_id",
        "arrival_idx",
        f"{surrogate_key(map_get('extended', 'IMEI'))} AS id",
        f"{strip_unit_to_double(map_get('extended', 'Course'))} AS course",
        f"{kmh_to_ms(strip_unit_to_double(map_get('extended', 'Velocity')))} AS speed",
        f"{t} AS time",
        f"{t} AS start",
        f"{share_link_url('share_id')} AS link_url",
        _extended("Id", "inreach_id"),
        _extended("Name", "inreach_name"),
        _extended("Device Type", "inreach_device_type"),
        _extended("IMEI", "inreach_imei"),
        _extended("Incident Id", "inreach_incident_id"),
        _extended("Valid GPS Fix", "inreach_valid_fix"),
        _extended("Text", "inreach_text"),
        _extended("Event", "inreach_event"),
        _extended("Device Identifier", "inreach_device_id"),
        f"{t} AS inreach_receive",
        f"{coord(coords, 1)} AS lon",
        f"{coord(coords, 2)} AS lat",
        f"{coord(coords, 3)} AS alt",
        # component count of the raw coordinate CSV: the GeoJSON sink
        # needs it to tell 'no third component' (2-element geometry)
        # from 'third component unparseable' ([lon, lat, null] — the
        # reference parseFloat-maps every component, task.ts:105-107)
        f"CAST(size({coords}) AS INT) AS n_coords",
    )


def attach_config(features: DataFrame, shares: DataFrame) -> DataFrame:
    """``shares`` (normalized) broadcast-joined on share_id — the
    idiomatic rendering of the reference's closure capture
    (task.ts:68,121,128). ``callsign`` lands right after ``id``, the
    FIXTURES.md §4 column order. A share configured twice yields each
    feature once per config row, as the reference runs one closure per
    configured share (task.ts:66-170)."""
    cols = features.columns
    at = cols.index("id") + 1
    joined = broadcast_dim_join(features, shares.drop("password"), on=["share_id"], how="left")
    return joined.selectExpr(*cols[:at], "callsign", *cols[at:])


def placemarks_to_features(placemarks: DataFrame, shares: DataFrame) -> DataFrame:
    """O10-O17: placemark rows -> flat feature rows with the config
    attached (FIXTURES.md §4)."""
    return attach_config(project_features(placemarks), shares)


def dedup_features(features: DataFrame) -> DataFrame:
    """O18: one feature per device id PER SHARE — latest time,
    first-seen wins on ties, NULL time counts as epoch 0
    (task.ts:151-159). The reference's dedup map lives inside the
    per-share closure (task.ts:92), so the same device appearing in
    two configured shares emits one feature per share; keying on
    share_id also keeps the arrival_idx tie-break well-defined
    (arrival order restarts per feed)."""
    return latest_by_key(
        features, ["share_id", "id"], "time", arrival_col="arrival_idx"
    )


def inreach_pipeline(shares: DataFrame, feeds: DataFrame) -> DataFrame:
    """shares config + raw (share_id, body) feeds -> deduped flat
    feature table. End-to-end analog of control() (task.ts:60-183)."""
    features = project_features(kml_to_placemarks(feeds))
    return attach_config(dedup_features(features), normalize_shares(shares)).drop(
        "arrival_idx"
    )

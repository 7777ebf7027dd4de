"""Nested-data transforms: coordinate strings, EAV pivot, GeoJSON
projection (SURVEY.md §2.1 O11/O12/O17)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def split_coordinates(csv: Column) -> Column:
    """O11 (task.ts:105-107) — '"lon,lat,alt"' -> array<double>.

    try_cast per element: a malformed component becomes NULL, the row
    survives (JS parseFloat -> NaN analog, SURVEY.md §2.3.5).
    """
    return F.transform(F.split(csv, ","), lambda x: x.try_cast("double"))


def coord(arr: Column, i: int) -> Column:
    """1-based component access; NULL when absent (2-element coords
    have no altitude). try_element_at: ANSI mode must not throw."""
    return F.try_element_at(arr, F.lit(i))


def eav_to_map(entries: Column, key_field: str = "name") -> Column:
    """O12 (task.ts:109-112) — fold array<struct<name,value>> EAV pairs
    into map<string,string> for by-name lookups.

    Duplicate keys are LAST-WINS (the reference assigns
    ``extended[name] = value`` per pair, task.ts:111), provided
    natively by ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` — part of
    ``session.RUNTIME_CONF``, so every query path (all of which call
    ``tune``) gets it. This replaced a quadratic higher-order
    dedup-filter: HOFs are CodegenFallback, and because interpreted
    subtrees are also invisible to codegen's runtime subexpression
    elimination, a consumer projecting N lookups re-built the map N
    times — 5x the eav_pivot wall-clock. NULL-key entries are dropped
    (map keys must be non-null; the reference's analog throws per-feed
    on a name-less Data element, task.ts:111)."""
    nonnull = F.filter(entries, lambda e: e[key_field].isNotNull())
    return F.map_from_entries(
        F.transform(nonnull, lambda e: F.struct(e[key_field], e["value"]))
    )


def map_get(m: Column, key: str) -> Column:
    """Lookup that yields NULL on a missing key (undefined analog,
    SURVEY.md §2.3.6) — try_element_at, never ANSI error."""
    return F.try_element_at(m, F.lit(key))


def point_geometry(lon: Column, lat: Column) -> Column:
    """GeoJSON Point geometry struct (task.ts:145-148).

    Coordinates are POSITIONAL: a malformed lon/lat stays as NULL in
    its position (the reference emits NaN -> JSON null there) — it is
    never filtered out, which would shift latitude into the longitude
    slot. The reference maps EVERY CSV component through parseFloat
    (task.ts:105-107), so a 3-component string whose third part fails
    to parse yields ``[lon, lat, null]`` — the trailing null is KEPT;
    the altitude slot is absent only when the string had fewer than 3
    components. The altitude and the original component count come
    from the row's ``alt`` and ``n_coords`` columns. Components beyond
    the third are not represented in the flat feature table and are
    capped at 3 here."""
    coords = F.when(
        F.col("n_coords") >= F.lit(3), F.array(lon, lat, F.col("alt"))
    ).otherwise(F.array(lon, lat))
    return F.struct(F.lit("Point").alias("type"), coords.alias("coordinates"))


def feature_struct(feature_id: Column, properties: Column, geometry: Column) -> Column:
    """GeoJSON Feature struct (task.ts:115-149)."""
    return F.struct(
        feature_id.alias("id"),
        F.lit("Feature").alias("type"),
        properties.alias("properties"),
        geometry.alias("geometry"),
    )

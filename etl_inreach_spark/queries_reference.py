"""Queries covering the reference's observed operator surface
(SURVEY.md §2.1, O1-O21), phrased over the driver's tables per the
FIXTURES.md §5 mapping.

Each docstring cites the reference operator it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.dedup import latest_by_key
from etl_inreach_spark.queries import query


@query(
    "latest_per_key",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM (
        SELECT e.*,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY coalesce(ts, TIMESTAMP '1970-01-01 00:00:00') DESC,
                            event_id ASC
               ) AS rn
        FROM events e
    )
    WHERE rn = 1
    """,
)
def latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — the reference's core computation: latest position
    report per device (keyed argmax dedup, task.ts:92,151-159), with
    the strict-``>`` first-seen tie-break (task.ts:154) and null-time-
    as-epoch-0 semantics.

    events.user_id plays the device id, ts the report time, event_id
    the arrival order. Rendered as a max_by hash aggregation (partial
    agg => shuffle carries ~|keys| rows; see operators/dedup.py).
    """
    ev = load_table(spark, sf_dir, "events")
    out = latest_by_key(ev, ["user_id"], "ts", arrival_col="event_id")
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "share_normalize",
    oracle="""
    WITH shares AS (
        SELECT c_custkey,
               CASE c_custkey % 4
                   WHEN 0 THEN 'https://share.garmin.com/' || c_name
                   WHEN 1 THEN 'https://share.garmin.com/' || c_name || '?d1=2024-01-01T00:00:00Z'
                   WHEN 2 THEN 'share.garmin.com/' || c_name
                   ELSE c_name
               END AS share_id_raw,
               CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS callsign_raw
        FROM customer
    ),
    norm AS (
        -- https branch = URL.pathname (query/fragment stripped, one
        -- leading slash removed); garmin branch = plain prefix replace
        SELECT c_custkey, callsign_raw,
               CASE WHEN share_id_raw LIKE 'https://%'
                    THEN regexp_replace(regexp_replace(regexp_replace(
                             share_id_raw, '^https://[^/?#]*', ''),
                             '[?#].*$', ''), '^/', '')
                    ELSE regexp_replace(share_id_raw, '^share\\.garmin\\.com/', '')
               END AS share_id
        FROM shares
    )
    SELECT c_custkey,
           share_id,
           coalesce(callsign_raw, share_id) AS callsign,
           'inreach-' || share_id AS feature_id,
           'https://share.garmin.com/' || share_id AS link_url
    FROM norm
    """,
)
def share_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2+O3+O4+O13 — share-id URL normalization (task.ts:70-74),
    callsign default-fill (task.ts:75), surrogate key (task.ts:114) and
    link URL (task.ts:128), exercised over customer rows dressed up as
    the three observed ShareId spellings."""
    from etl_inreach_spark.functions.strings import (
        default_fill,
        normalize_share_id,
        share_link_url,
        surrogate_key,
    )

    c = load_table(spark, sf_dir, "customer")
    raw = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 4 == 0, F.concat(F.lit("https://share.garmin.com/"), F.col("c_name")))
        .when(
            F.col("c_custkey") % 4 == 1,
            F.concat(
                F.lit("https://share.garmin.com/"),
                F.col("c_name"),
                F.lit("?d1=2024-01-01T00:00:00Z"),
            ),
        )
        .when(F.col("c_custkey") % 4 == 2, F.concat(F.lit("share.garmin.com/"), F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("share_id_raw"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("callsign_raw"),
    )
    share = normalize_share_id("share_id_raw")
    return raw.selectExpr(
        "c_custkey",
        f"{share} AS share_id",
        f"{default_fill('callsign_raw', share)} AS callsign",
        f"{surrogate_key(share)} AS feature_id",
        f"{share_link_url(share)} AS link_url",
    )


@query(
    "unit_strip_cast",
    oracle="""
    WITH raw AS (
        SELECT l_orderkey, l_linenumber,
               -- every 7th row: EMPTY course (JS Number('') === 0)
               CASE WHEN l_orderkey % 7 = 0 THEN ''
                    ELSE CAST(l_partkey % 360 AS VARCHAR) || '.5 ° True'
               END AS course_raw,
               CAST(l_suppkey % 200 AS VARCHAR) || '.0 km/h' AS velocity_raw
        FROM lineitem
    ),
    stripped AS (
        SELECT l_orderkey, l_linenumber,
               regexp_replace(course_raw, '\\s.*$', '') AS course_s,
               regexp_replace(velocity_raw, '\\s.*$', '') AS velocity_s
        FROM raw
    )
    SELECT l_orderkey, l_linenumber,
           CASE WHEN course_s = '' THEN 0.0
                ELSE TRY_CAST(course_s AS DOUBLE) END AS course,
           TRY_CAST(velocity_s AS DOUBLE) AS speed_kmh,
           TRY_CAST(velocity_s AS DOUBLE) * 0.277778 AS speed_ms
    FROM stripped
    """,
)
def unit_strip_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14+O15 — unit-suffix strip ('"45.5 ° True"', '"12.0 km/h"',
    task.ts:119-120) and km/h -> m/s with the reference's exact
    0.277778 constant (task.ts:120; SURVEY.md §2.3.3).

    Perf note (r4 bench outlier, profiled min-of-6 at sf0.1): cost is
    the two \\s-class regex strips plus the synthetic raw-string
    CONSTRUCTION over 600k rows — not try_cast (every non-empty
    stripped value parses, so the exception path never runs).
    strip_unit now renders as an anchored regexp_extract('^\\S*')
    (1.58 -> 1.19 s for the strip stage); the remaining ~1.2 s is the
    floor for reference-faithful semantics: substring_index(' ')
    would run in 0.54 s but splits only on LITERAL space, diverging
    from the reference's /\\s.*/ (tabs/newlines) — rejected."""
    from etl_inreach_spark.functions.strings import strip_unit_to_double
    from etl_inreach_spark.functions.units import kmh_to_ms

    li = load_table(spark, sf_dir, "lineitem")
    raw = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_orderkey") % 7 == 0, F.lit(""))
        .otherwise(F.concat((F.col("l_partkey") % 360).cast("string"), F.lit(".5 ° True")))
        .alias("course_raw"),
        F.concat((F.col("l_suppkey") % 200).cast("string"), F.lit(".0 km/h")).alias("velocity_raw"),
    )
    # two projections: deriving speed_ms from the speed_kmh COLUMN
    # (not the expression) keeps the regex strip evaluated once —
    # inlining the shared strip expression into both consumers
    # measured ~2x slower at sf0.1
    staged = raw.selectExpr(
        "l_orderkey",
        "l_linenumber",
        f"{strip_unit_to_double('course_raw')} AS course",
        f"{strip_unit_to_double('velocity_raw')} AS speed_kmh",
    )
    return staged.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "course",
        "speed_kmh",
        f"{kmh_to_ms('speed_kmh')} AS speed_ms",
    )


@query(
    "split_coordinates",
    oracle="""
    WITH raw AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_orderkey % 360 AS VARCHAR) || ',' ||
               CAST(l_partkey % 180 AS VARCHAR) ||
               CASE WHEN l_linenumber % 2 = 0 THEN ',' || CAST(l_suppkey AS VARCHAR) ELSE '' END
                   AS coords_csv
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           TRY_CAST(string_split(coords_csv, ',')[1] AS DOUBLE) AS lon,
           TRY_CAST(string_split(coords_csv, ',')[2] AS DOUBLE) AS lat,
           TRY_CAST(string_split(coords_csv, ',')[3] AS DOUBLE) AS alt
    FROM raw
    """,
)
def split_coordinates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 — '"lon,lat[,alt]"' CSV string -> typed components
    (task.ts:105-107), including the 2-element no-altitude case
    (NULL alt, never an ANSI error)."""
    from etl_inreach_spark.functions.nested import coord, split_coordinates

    li = load_table(spark, sf_dir, "lineitem")
    raw = li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            (F.col("l_orderkey") % 360).cast("string"),
            F.lit(","),
            (F.col("l_partkey") % 180).cast("string"),
            F.when(
                F.col("l_linenumber") % 2 == 0,
                F.concat(F.lit(","), F.col("l_suppkey").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("coords_csv"),
    )
    arr = split_coordinates("coords_csv")
    return raw.selectExpr(
        "l_orderkey",
        "l_linenumber",
        f"{coord(arr, 1)} AS lon",
        f"{coord(arr, 2)} AS lat",
        f"{coord(arr, 3)} AS alt",
    )


@query(
    "eav_pivot",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_partkey AS VARCHAR) AS part_s,
           CAST(l_suppkey AS VARCHAR) AS supp_s,
           l_partkey AS part_n,
           NULL AS missing_key
    FROM lineitem
    """,
)
def eav_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 — EAV pairs -> map -> typed by-name projection
    (task.ts:109-112 + lookups 114-141). Built from lineitem columns so
    the oracle is the trivial identity; the Spark side exercises the
    full array<struct> -> map_from_entries -> try_element_at path,
    including the missing-key -> NULL trap (SURVEY.md §2.3.6)."""
    from etl_inreach_spark.functions.nested import eav_to_map, map_get

    li = load_table(spark, sf_dir, "lineitem")
    m = eav_to_map(
        "array(named_struct('name', 'part', 'value', CAST(l_partkey AS STRING)),"
        " named_struct('name', 'supp', 'value', CAST(l_suppkey AS STRING)))"
    )
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        f"{map_get(m, 'part')} AS part_s",
        f"{map_get(m, 'supp')} AS supp_s",
        f"try_cast({map_get(m, 'part')} AS BIGINT) AS part_n",
        f"{map_get(m, 'nope')} AS missing_key",
    )


@query(
    "json_props_extract",
    oracle="""
    SELECT event_id, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           json_extract_string(props, '$.absent') AS absent_val
    FROM events
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions row of SURVEY.md §2.2 — the reference's output is
    JSON (GeoJSON) and events.props is a JSON payload column; parse
    with from_json into a typed map and project."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    return ev.select(
        "event_id",
        "user_id",
        F.try_element_at(m, F.lit("k")).try_cast("bigint").alias("k_val"),
        F.try_element_at(m, F.lit("absent")).alias("absent_val"),
    )


@query(
    "timestamp_normalize",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ') AS iso,
           date_trunc('ms', ts) AS parsed_back
    FROM events
    """,
)
def timestamp_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16 — timestamp -> ISO-8601 text and back (task.ts:122-123,142:
    the reference renders every timestamp via Date.toISOString())."""
    from etl_inreach_spark.functions.units import parse_iso8601, to_iso8601

    ev = load_table(spark, sf_dir, "events")
    iso = to_iso8601("ts")
    return ev.selectExpr("event_id", f"{iso} AS iso", f"{parse_iso8601(iso)} AS parsed_back")


@query(
    "time_window_filter",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 30 MINUTE
    """,
)
def time_window_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — the 30-minute lookback the reference pushes to the server
    as the d1 query param (task.ts:80-82), batch-rendered with a
    deterministic max(ts) anchor (FIXTURES.md §5)."""
    from etl_inreach_spark.operators.relational import filter_recent

    ev = load_table(spark, sf_dir, "events")
    return filter_recent(ev).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@query(
    "string_functions_showcase",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           reverse(c_name) AS name_rev,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_padded,
           replace(c_name, '#', '-') AS name_dashed,
           split_part(c_name, '#', 1) AS name_stem,
           levenshtein(c_name, upper(c_name)) AS lev_to_upper,
           length(c_name) AS name_len
    FROM customer
    """,
)
def string_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 string functions beyond the reference's own surface
    (split/regexp/concat are covered by the O-queries): case mapping,
    reverse, padding, replace, split_part, edit distance — every one a
    codegen built-in with an exact DuckDB twin."""
    c = load_table(spark, sf_dir, "customer")
    name = F.col("c_name")
    return c.select(
        "c_custkey",
        F.upper(name).alias("name_upper"),
        F.reverse(name).alias("name_rev"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_padded"),
        F.replace(name, F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.split_part(name, F.lit("#"), F.lit(1)).alias("name_stem"),
        F.levenshtein(name, F.upper(name)).alias("lev_to_upper"),
        F.length(name).alias("name_len"),
    )

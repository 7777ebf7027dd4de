"""KML feed parsing — the reference's semi-structured input stage
(task.ts:89-112) re-expressed as native Spark XML.

The reference fetches Garmin MapShare KML per share, parses with
xml2js, walks ``kml.Document[0].Folder[0].Placemark[]`` and reads per
placemark: ``Point.coordinates`` (CSV string), ``TimeStamp.when`` and
the ``ExtendedData.Data[]`` name/value pairs (task.ts:98-111).

Here: ``from_xml`` with an explicit schema (Spark 4 native XML — no
UDF, stays in the JVM), then explode + map pivot. Error semantics
match the reference's FEED granularity (SURVEY.md §2.3.7) at BOTH
levels: a feed whose XML fails to parse becomes one NULL row
(PERMISSIVE) and is dropped whole, and a feed containing any
Point-bearing placemark that would throw inside the reference's
per-share closure — missing coordinates, missing/empty ExtendedData,
missing Course or Velocity key (``undefined.replace`` TypeError,
task.ts:119-120), missing TimeStamp, or an unparseable ``when``
(``Invalid Date.toISOString()`` RangeError, task.ts:122-123) — is
dropped whole too; sibling feeds are unaffected (task.ts:165-168).

Date-grammar parity: the reference accepts whatever JS ``new Date()``
accepts (task.ts:122-123). ``js_try_to_timestamp`` matches that
grammar for ISO-8601 plus the common non-ISO shapes JS engines accept
(slash dates, RFC-2822 with/without weekday and zone, US prose dates)
— all parsed in the session timezone, matching a UTC Lambda's
local-time interpretation. Residual divergence: ``new Date()``'s full
grammar is implementation-defined; a shape outside this list is
dropped here but might be kept by some JS engine (pinned by
tests/test_kml_pipeline.py::test_js_date_grammar_parity).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame

from etl_inreach_spark.functions.nested import eav_to_map
from etl_inreach_spark.functions.sql import ident, literal

# Access-path schema, mirroring exactly what the reference reads
# (task.ts:98-111). xml2js wraps every element in an array; in Spark a
# repeated element is an array and a singleton a struct — Folder and
# Placemark are declared arrays because the reference indexes
# Document[0].Folder[0] (first folder only) and iterates Placemark[].
# `_name` is the Data element's name= attribute (attributePrefix "_").
KML_SCHEMA = (
    "struct<Document: struct<Folder: array<struct<"
    "Placemark: array<struct<"
    "TimeStamp: struct<when: string>, "
    "Point: struct<coordinates: string>, "
    "ExtendedData: struct<Data: array<struct<_name: string, value: string>>>"
    ">>>>>>"
)

# Non-ISO shapes JS `new Date()` accepts that Spark's default
# try_to_timestamp grammar does not (task.ts:122-123 parity). Parsed
# in the session timezone — same as a UTC-host JS local-time parse.
JS_EXTRA_TS_PATTERNS = (
    "yyyy/M/d H:m:s",
    "yyyy/M/d H:m",
    "yyyy/M/d",
    "MMM d, yyyy H:m:s",
    "MMM d, yyyy H:m",
    "MMM d, yyyy",
    "MMMM d, yyyy H:m:s",
    "MMMM d, yyyy H:m",
    "MMMM d, yyyy",
    # RFC-2822 without weekday: seconds optional per the RFC, zone
    # name ("GMT"/"UTC") or offset (+0200 / +02:00) optional too. The
    # leading space lives INSIDE each optional section — a space
    # before `[` would be mandatory and reject the zone-less form.
    "d MMM yyyy H:m:s[ zzz][ xx]",
    "d MMM yyyy H:m[ zzz][ xx]",
    "d MMM yyyy",
)

# RFC-2822 *with* weekday is parsed by stripping the "EEE, " prefix
# first (Spark 4's parser rejects the EEE field outright); these are
# the patterns the stripped form retries.
_RFC_NO_WEEKDAY_PATTERNS = (
    "d MMM yyyy H:m:s[ zzz][ xx]",
    "d MMM yyyy H:m[ zzz][ xx]",
)


def js_try_to_timestamp(s: str) -> str:
    """``new Date()``-grammar timestamp parse: ISO-8601 first (the
    shape Garmin actually emits — stays the cheap common path), then
    the JS-accepted non-ISO fallbacks, then RFC-2822 with its weekday
    prefix stripped (Spark 4's parser rejects the EEE field outright).
    NULL when nothing matches — the Invalid Date analog. The fallback
    chain is pure codegen scalar expressions; coalesce stops at the
    first hit so well-formed feeds never pay for the long tail."""
    weekday = literal(r"^[A-Za-z]{3},\s*")
    rfc = f"regexp_replace({s}, {weekday}, '')"
    tries = [
        f"try_to_timestamp({s})",
        *[f"try_to_timestamp({s}, {literal(p)})" for p in JS_EXTRA_TS_PATTERNS],
        *[f"try_to_timestamp({rfc}, {literal(p)})" for p in _RFC_NO_WEEKDAY_PATTERNS],
    ]
    return f"coalesce({', '.join(tries)})"


def placemark_feed_error(placemarks_arr: str) -> str:
    """TRUE when any Point-bearing placemark in the feed's placemark
    array would throw inside the reference's per-share closure and so
    drop the WHOLE feed (task.ts:103-142, isolation task.ts:165-168):

    - ``Point.coordinates`` absent (``undefined.split`` TypeError)
    - ``ExtendedData``/``Data`` absent or empty (``for..of undefined``)
    - no ``Course`` / ``Velocity`` entry (``undefined.replace``)
    - ``TimeStamp.when`` absent, or unparseable as a timestamp
      (``Invalid Date.toISOString()`` RangeError; judged here by
      Spark's grammar — see module docstring)

    Point-LESS placemarks are skipped before any of those reads
    (task.ts:104 ``continue``), so they can never poison a feed.
    Pure column expressions over the nested array (exists/HOF) — no
    UDF; runs pre-explode so the verdict is per-feed by construction.
    """
    data = "p.ExtendedData.Data"

    def lacks_key(k: str) -> str:
        return f"NOT coalesce(exists({data}, d -> d._name = {literal(k)}), false)"

    when_s = f"p.TimeStamp.{ident('when')}"
    checks = [
        "p.Point.coordinates IS NULL",
        f"{data} IS NULL",
        lacks_key("Course"),
        lacks_key("Velocity"),
        f"{when_s} IS NULL",
        f"{js_try_to_timestamp(when_s)} IS NULL",
    ]
    # parenthesized left-deep, as `a | b | c` builds it: the SQL parser
    # would balance a bare OR chain into a different tree
    any_check = reduce(lambda acc, c: f"({acc} OR {c})", checks)
    return f"coalesce(exists({placemarks_arr}, p -> p.Point IS NOT NULL AND {any_check}), false)"


def kml_to_placemarks(feeds: DataFrame) -> DataFrame:
    """(share_id, body) -> one row per placemark.

    Output: share_id + arrival_idx (document order within the feed —
    required for the dedup tie-break, SURVEY.md §2.3.1),
    point_coordinates, timestamp_when, extended map.

    Pipeline (all narrow, fused by whole-stage codegen):
      empty-body short-circuit (O7, task.ts:95)
      -> from_xml (O8); malformed feed -> NULL -> dropped whole (O19)
      -> Document missing -> dropped (task.ts:98 throw-per-feed)
      -> feed-granular placemark validation (placemark_feed_error):
         any Point-bearing placemark that would throw in the
         reference's closure drops its WHOLE feed (SURVEY.md §2.3.7)
      -> first Folder, explode Placemark with position (O9)
      -> EAV pivot of ExtendedData (O12)
    The null-Point filter (O10) is NOT applied here — it belongs to the
    feature projection so callers can observe raw placemarks.

    Feed dropping is rendered as a NULL placemark array under
    ``posexplode`` (zero rows) rather than Filter nodes, and the parsed
    struct is BOUND TO A LAMBDA VARIABLE via a one-element transform():
    predicate pushdown substitutes a filtered alias's definition into
    each Filter, and CollapseProject inlines multiply-referenced
    aliases, so the round-2 plan re-evaluated ``from_xml`` 3x (and a
    naive no-filter rewrite 7x) per document — the
    kml_pipeline_roundtrip regression. A lambda variable is evaluated
    exactly once per element and no Catalyst rule can substitute
    through it, so every document is parsed ONCE, the plan stays
    narrow (no window/shuffle), and the same code serves the streaming
    pipeline where a per-feed window verdict would be unsupported.
    Pinned by tests/test_kml_pipeline.py::test_single_xml_parse_in_plan.
    """
    nonempty = feeds.filter("trim(body) != ''")
    # first folder only (Document[0].Folder[0], task.ts:101); missing
    # Folder -> NULL array -> no feed error, no rows
    pm_arr = "try_element_at(kml.Document.Folder, 1).Placemark"
    validated = (
        f"CASE WHEN kml.Document IS NOT NULL AND NOT {placemark_feed_error(pm_arr)}"
        f" THEN {pm_arr} END"
    )
    parsed = f"from_xml(body, {literal(KML_SCHEMA)})"
    staged = nonempty.selectExpr(
        "share_id",
        f"element_at(transform(array({parsed}), kml -> {validated}), 1) AS _pms",
    )
    # OUTER explode + post-filter, not plain posexplode: for the
    # non-outer form InferFiltersFromGenerate infers `size(_pms) > 0`
    # and pushes it through the projection, re-parsing the XML inside
    # the Filter. The outer generate admits no such inference; the
    # null-row filter below reads only GENERATED columns, so it cannot
    # be pushed past the parse.
    placemarks = staged.selectExpr(
        "share_id", "posexplode_outer(_pms) AS (arrival_idx, _pm)"
    ).filter("arrival_idx IS NOT NULL")
    return placemarks.selectExpr(
        "share_id",
        "CAST(arrival_idx AS BIGINT) AS arrival_idx",
        "_pm.Point.coordinates AS point_coordinates",
        f"_pm.TimeStamp.{ident('when')} AS timestamp_when",
        f"{eav_to_map('_pm.ExtendedData.Data', '_name')} AS extended",
    )

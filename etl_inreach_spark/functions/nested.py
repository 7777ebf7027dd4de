"""Nested-data transforms: coordinate strings and the EAV pivot
(SURVEY.md §2.1 O11/O12). SQL text in, SQL text out (functions/sql.py)."""

from __future__ import annotations

from etl_inreach_spark.functions.sql import ident, literal


def split_coordinates(csv: str) -> str:
    """O11 (task.ts:105-107) — '"lon,lat,alt"' -> array<double>.

    try_cast per element: a malformed component becomes NULL, the row
    survives (JS parseFloat -> NaN analog, SURVEY.md §2.3.5).
    """
    return f"transform(split({csv}, ','), x -> try_cast(x AS DOUBLE))"


def coord(arr: str, i: int) -> str:
    """1-based component access; NULL when absent (2-element coords
    have no altitude). try_element_at: ANSI mode must not throw."""
    return f"try_element_at({arr}, {literal(i)})"


def eav_to_map(entries: str, key_field: str = "name") -> str:
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
    key = ident(key_field)
    nonnull = f"filter({entries}, e -> e.{key} IS NOT NULL)"
    return f"map_from_entries(transform({nonnull}, e -> struct(e.{key}, e.value)))"


def map_get(m: str, key: str) -> str:
    """Lookup that yields NULL on a missing key (undefined analog,
    SURVEY.md §2.3.6) — try_element_at, never ANSI error."""
    return f"try_element_at({m}, {literal(key)})"

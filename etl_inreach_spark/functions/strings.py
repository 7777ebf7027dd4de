"""String transforms observed in the reference (SURVEY.md §2.1).

Each helper takes SQL text and returns SQL text (functions/sql.py): pure
built-in expressions — whole-stage-codegen friendly, no UDFs.
"""

from __future__ import annotations

from etl_inreach_spark.functions.sql import literal

# Reference operator O2 (task.ts:70-74): a ShareId may arrive as a bare
# id, as "https://<host>/<id>", or as "share.garmin.com/<id>".
GARMIN_SHARE_BASE = "https://share.garmin.com/"


def normalize_share_id(share_id: str) -> str:
    """O2 — strip URL prefixes down to the bare share key.

    Two distinct branches, mirroring task.ts:71-74 exactly:

    - ``https://...`` -> ``new URL(s).pathname`` minus one leading
      ``/``: host, query string AND fragment are all stripped (URL
      pathname never contains ``?query`` / ``#fragment``).
    - ``share.garmin.com/...`` -> only that literal prefix is removed
      (plain ``String.replace``, no URL parse) — a query/fragment
      SURVIVES in this branch.
    - anything else passes through unchanged.
    """
    host, tail = literal(r"^https://[^/?#]*"), literal(r"[?#].*$")
    garmin = literal(r"^share\.garmin\.com/")
    pathname = f"regexp_replace(regexp_replace({share_id}, {host}, ''), {tail}, '')"
    return (
        f"CASE WHEN startswith({share_id}, 'https://') "
        f"THEN regexp_replace({pathname}, '^/', '') "
        f"ELSE regexp_replace({share_id}, {garmin}, '') END"
    )


def default_fill(primary: str, fallback: str) -> str:
    """O3 (task.ts:75) — CallSign defaults to ShareId when absent.

    The reference tests JS falsiness (`if (!share.CallSign)`), so an
    EMPTY STRING falls back too, not just NULL."""
    return f"CASE WHEN ({primary}) IS NULL OR ({primary}) = '' THEN {fallback} ELSE {primary} END"


def share_link_url(share_id: str) -> str:
    """Feature link URL (task.ts:128)."""
    return f"concat({literal(GARMIN_SHARE_BASE)}, {share_id})"


def surrogate_key(imei: str) -> str:
    """O13 (task.ts:114) — device-identity surrogate key.

    IMEI, not message Id (reference CHANGELOG.md:122-124, v3.7.3).
    A missing IMEI yields the literal key 'inreach-undefined' (JS
    string concat with undefined, task.ts:114) — NOT NULL, which would
    both vanish from the GeoJSON id field and collapse with every
    other NULL under a dedup key."""
    return f"concat('inreach-', coalesce({imei}, 'undefined'))"


def strip_unit(value: str) -> str:
    """O14 (task.ts:119-120, ``.replace(/\\s.*/, '')``) — drop
    everything from the first whitespace: '"123.0 ° True"' ->
    '"123.0"'. Rendered as ``regexp_extract('^\\S*')`` — the leading
    non-whitespace run — because the anchored extract scans once and
    copies only the keep-side, measured 1.58 -> 1.19 s on the 600k-row
    sf0.1 strip query (min-of-6; replace must also build the
    replacement string, and split(\\s, 2) was slower still at 2.0 s).

    Equivalence scope: identical to ``regexp_replace('\\s.*$', '')``
    for every input WITHOUT line terminators (incl. NULL, empty, and
    leading-whitespace strings). On embedded newlines the variants
    diverge three ways ('a b\\nc': extract -> 'a', replace-$ -> 'a b',
    the JS reference /\\s.*/ -> 'a\\nc'); the feed's coordinate/speed/
    course strings are single-line, so the divergence is unreachable
    on real data and the faster extract is kept."""
    leading_run = literal(r"^\S*")
    return f"regexp_extract({value}, {leading_run}, 0)"


def strip_unit_to_double(value: str) -> str:
    """O14 + cast, with the reference's ``Number()`` semantics
    (task.ts:119-120): ``Number('') === 0``, so a value that is empty —
    or whitespace-only, which the unit strip reduces to empty — casts
    to 0.0, NOT NULL (SURVEY.md §2.3.5). Other unparseable values ->
    NULL via try_cast (the NaN analog; ANSI-safe), and NULL in -> NULL
    out (missing key, §2.3.6)."""
    stripped = strip_unit(value)
    return f"CASE WHEN {stripped} = '' THEN {literal(0.0)} ELSE try_cast({stripped} AS DOUBLE) END"

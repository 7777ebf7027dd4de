"""Unit and timestamp normalization (SURVEY.md §2.1 O15/O16). SQL text
in, SQL text out (functions/sql.py)."""

from __future__ import annotations

from etl_inreach_spark.functions.sql import literal

# O15 (task.ts:120): the reference multiplies by the literal 0.277778,
# NOT by 1000/3600 — the ~1e-7 difference matters for value-hash parity
# (SURVEY.md §2.3.3).
KMH_TO_MS = 0.277778

# ISO-8601 with MILLISECONDS — exactly Date.toISOString()'s shape
# (reference task.ts:122-123,142 emits 3 fractional digits).
ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def kmh_to_ms(speed_kmh: str) -> str:
    return f"({speed_kmh}) * {literal(KMH_TO_MS)}"


def to_iso8601(ts: str) -> str:
    """O16 — render a timestamp as ISO-8601 (UTC, millisecond)."""
    return f"date_format({ts}, {literal(ISO_FMT)})"


def parse_iso8601(s: str) -> str:
    """O16 — parse ISO-8601; NULL (not job failure) on malformed."""
    return f"try_to_timestamp({s}, {literal(ISO_FMT)})"

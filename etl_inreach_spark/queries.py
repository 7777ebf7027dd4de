"""Query registry: every implemented operator exposed as a named query
over the driver's test tables, paired with an ANSI-SQL DuckDB oracle.

Contract (see /root/repo/__spark_entry__.py): each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle SQL must produce
the same row count, schema (column names) and order-insensitive values
on the same parquet tables.

Float discipline (oracle parity): aggregate sums go through
DECIMAL so they are exact and order-insensitive in BOTH engines, then
cast back to DOUBLE; see SURVEY.md §7 "hard parts" #4.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Callable, Iterable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from etl_inreach_spark.session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query and (optionally) its DuckDB oracle SQL.

    The registered (and returned) callable applies ``session.tune`` to
    the session before the body builds anything, so every query runs
    with the engine's runtime confs on any session, the driver's
    included."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        _QUERIES[name] = tuned
        if oracle is not None:
            _ORACLES[name] = oracle
        return tuned

    return deco


# The driver verifies only the FIRST 50 entries of queries(), so the
# order is derived from the committed verdict history (the repo root's
# CORRECTNESS_r{N}.json): never-verified first, then oldest last passing
# verdict, then name. While checked queries pass, every query is
# re-verified within ceil(len(registry) / 50) rounds; a failed or
# oracle-less verdict keeps its query at the front.
_REPO_ROOT = Path(__file__).resolve().parent.parent


def last_verified(history: Mapping[int, Mapping[str, Mapping]]) -> dict[str, int]:
    """Round of each query's latest passing verdict in ``history``
    (round -> {name -> verdict row}). A row passes when it ran clean,
    rows and schema match and the value hash did not mismatch, so
    rows-only verdicts count."""
    last: dict[str, int] = {}
    for rnd, rows in sorted(history.items()):
        for name, row in rows.items():
            if (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is not False
            ):
                last[name] = rnd
    return last


def _ordered(names: Iterable[str], last: Mapping[str, int]) -> list[str]:
    return sorted(names, key=lambda n: (last.get(n, -1), n))


@functools.cache
def _committed_last_verified() -> dict[str, int]:
    history = {}
    for p in _REPO_ROOT.glob("CORRECTNESS_r*.json"):
        rnd = p.stem.removeprefix("CORRECTNESS_r")
        if rnd.isdigit():
            history[int(rnd)] = json.loads(p.read_text())
    return last_verified(history)


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {n: _QUERIES[n] for n in _ordered(_QUERIES, _committed_last_verified())}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {n: _ORACLES[n] for n in all_queries() if n in _ORACLES}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # unconditional: a broken query module must fail LOUDLY, not
    # silently shrink the correctness surface the driver checks
    from etl_inreach_spark import (  # noqa: F401
        queries_analytics,
        queries_curation,
        queries_extended,
        queries_kml,
        queries_lakehouse,
        queries_pipeline,
        queries_reference,
        queries_relational,
        queries_training,
    )

    _LOADED = True

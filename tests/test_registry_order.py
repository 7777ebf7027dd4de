"""Registry order: the driver verifies only the FIRST 50 entries of
``queries()``, so the order derived from the committed verdict history
is part of the correctness surface. These tests pin the rule, not any
one round's window."""

from __future__ import annotations

import math

from etl_inreach_spark import queries as Q

WINDOW = 50
PASS = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def test_failed_or_errored_row_is_not_verified():
    bad_hash = {**PASS, "hash_match": False}
    errored = {**PASS, "rows_match": None, "schema_match": None, "err": "no_oracle"}
    history = {1: {"a": PASS, "b": PASS}, 2: {"a": bad_hash, "b": errored, "c": errored}}
    assert Q.last_verified(history) == {"a": 1, "b": 1}


def test_rows_only_row_is_verified():
    rows_only = {"rows_match": True, "schema_match": True, "err": None}
    assert Q.last_verified({3: {"a": rows_only}}) == {"a": 3}


def test_query_missing_from_every_file_sorts_first():
    assert Q._ordered(["b", "z", "a", "y"], {"a": 1, "b": 2}) == ["y", "z", "a", "b"]


def test_empty_history_gives_name_order():
    assert Q._ordered(["c", "a", "b"], Q.last_verified({})) == ["a", "b", "c"]


def test_window_holds_the_stalest_queries():
    last, order = Q._committed_last_verified(), list(Q.all_queries())
    window, rest = order[:WINDOW], order[WINDOW:]
    assert {n for n in order if n not in last} <= set(window)
    stalest_outside = min((last[n] for n in rest), default=math.inf)
    assert max(last.get(n, -1) for n in window) <= stalest_outside


def test_simulated_driver_verifies_every_query_within_the_bound():
    """Each simulated round verifies the current first 50; within
    ceil(|registry| / 50) rounds every query has a verdict."""
    names, last = list(Q.all_queries()), dict(Q._committed_last_verified())
    first, verified = max(last.values(), default=0) + 1, set()
    for rnd in range(first, first + math.ceil(len(names) / WINDOW)):
        window = Q._ordered(names, last)[:WINDOW]
        last.update(Q.last_verified({rnd: {n: PASS for n in window}}))
        verified.update(window)
    assert verified == set(names)
    # only the order moves
    assert set(names) == set(Q._QUERIES) and set(Q.all_oracles()) == set(Q._ORACLES)


def test_oracles_subset_of_queries():
    qs, os_ = Q.all_queries(), Q.all_oracles()
    assert set(os_) <= set(qs)
    # every query has an oracle except the documented rows-only ones
    # (engine-specific sketches; each has a value-oracled exact or
    # portable companion: kmv_distinct_users, order_value_percentiles)
    rows_only = {"approx_distinct_users", "approx_order_percentiles"}
    assert set(qs) - set(os_) == rows_only

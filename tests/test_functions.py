"""Edge-case pins for the string/unit/nested function library
(the SURVEY.md §2.3 oracle traps). The helpers take and return SQL text."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_inreach_spark.functions.nested import coord, eav_to_map, map_get, split_coordinates
from etl_inreach_spark.functions.strings import (
    normalize_share_id,
    strip_unit_to_double,
    surrogate_key,
)
from etl_inreach_spark.functions.sql import literal
from etl_inreach_spark.functions.units import KMH_TO_MS, kmh_to_ms


def one(spark, sql, **data):
    cols = [F.lit(v).alias(k) for k, v in data.items()]
    return spark.range(1).select(*cols).select(F.expr(sql).alias("out")).collect()[0]["out"]


def test_normalize_share_id_variants(spark):
    cases = {
        "https://share.garmin.com/abc": "abc",
        "https://example.com/abc": "abc",
        "share.garmin.com/abc": "abc",
        "abc": "abc",
        # https branch is URL.pathname: query/fragment stripped
        # (task.ts:71); host-only URL -> '' (pathname '/')
        "https://share.garmin.com/abc?d1=2024-01-01#frag": "abc",
        "https://example.com/a/b?x=1": "a/b",
        "https://example.com": "",
        # garmin branch is a plain String.replace: query SURVIVES
        # (task.ts:73)
        "share.garmin.com/abc?x=1": "abc?x=1",
        # startsWith match but no trailing slash: replace is a no-op
        "share.garmin.com": "share.garmin.com",
    }
    for raw, want in cases.items():
        assert one(spark, normalize_share_id("s"), s=raw) == want


def test_strip_unit_variants(spark):
    # from the first whitespace (task.ts:119-120)
    assert one(spark, strip_unit_to_double("s"), s="45.5 ° True") == 45.5
    assert one(spark, strip_unit_to_double("s"), s="12.0 km/h") == 12.0
    # no unit at all
    assert one(spark, strip_unit_to_double("s"), s="7.25") == 7.25
    # empty (or whitespace-only) -> 0.0: JS Number('') === 0
    # (task.ts:119-120, SURVEY.md §2.3.5)
    assert one(spark, strip_unit_to_double("s"), s="") == 0.0
    assert one(spark, strip_unit_to_double("s"), s="  ") == 0.0
    # junk -> NULL (NaN analog), never an ANSI error
    assert one(spark, strip_unit_to_double("s"), s="N/A knots") is None
    # NULL in (missing key, §2.3.6) -> NULL out
    assert (
        one(spark, strip_unit_to_double("CAST(NULL AS STRING)")) is None
    )


def test_kmh_constant_is_reference_exact(spark):
    # 0.277778, NOT 1/3.6 (task.ts:120, SURVEY.md §2.3.3)
    assert KMH_TO_MS == 0.277778
    assert one(spark, kmh_to_ms("v"), v=100.0) == 100.0 * 0.277778


def test_split_coordinates_with_and_without_alt(spark):
    c3 = one(spark, split_coordinates("s"), s="-105.1,39.7,1650.0")
    assert c3 == [-105.1, 39.7, 1650.0]
    arr = split_coordinates("s")
    assert one(spark, coord(arr, 3), s="-105.1,39.7") is None
    # malformed component -> NULL element, row survives
    assert one(spark, coord(arr, 1), s="oops,39.7") is None


def test_eav_pivot_missing_key_is_null(spark):
    m = eav_to_map(
        "array(named_struct('name', 'IMEI', 'value', '123'),"
        " named_struct('name', 'Course', 'value', '10.0 °'))"
    )
    assert one(spark, map_get(m, "IMEI")) == "123"
    assert one(spark, map_get(m, "Text")) is None
    assert one(spark, surrogate_key(map_get(m, "IMEI"))) == "inreach-123"


# Fragments the SQL parser treats specially inside a quoted literal:
# escapes, quotes, variable references, LIKE wildcards, regex syntax.
TRICKY = st.sampled_from(
    ["'", "\\", "\\\\", '"', "${", "}", "${spark.app.name}", "\\u0041", "$",
     "%", "_", "^\\S*", "[?#].*$", "\\s", "(", "|", "+", "\n", "\t", "é", "'T'"]
)
STRINGS = st.lists(st.one_of(TRICKY, st.text(max_size=3)), max_size=8).map("".join)
SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def evaluate(spark, values):
    exprs = [F.expr(literal(v)).alias(f"c{i}") for i, v in enumerate(values)]
    return list(spark.range(1).select(*exprs).first())


@SETTINGS
@given(values=st.lists(STRINGS, min_size=1, max_size=6))
@example(values=["^\\S*", "it's", "${spark.app.name}", "\\${x}", "\\u0041"])
def test_literal_strings_evaluate_back(spark, values):
    assert evaluate(spark, values) == values


@SETTINGS
@given(
    values=st.lists(
        st.one_of(
            st.floats(allow_nan=False, allow_infinity=False),
            st.integers(-(2**63), 2**63 - 1),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_literal_numbers_evaluate_back(spark, values):
    got = evaluate(spark, values)
    assert got == values
    assert [type(v) for v in got] == [type(v) for v in values]

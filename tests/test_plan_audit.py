"""Registry-wide plan-discipline audit: no query may plan a cartesian
product or a row-at-a-time Python UDF (BatchEvalPython) — the two
blacklisted 100 TB anti-patterns. Arrow-batched pandas ops
(ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are the
sanctioned escape hatch and remain allowed. Each query is audited on
its final plan and on the plan of every subtree it checkpointed."""

from __future__ import annotations

import pytest

from etl_inreach_spark.queries import all_oracles, all_queries

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def analyzed(spark):
    """name -> (schema, plans): the executed plan of every subtree the
    query checkpointed while it was built, then its final executed plan.
    A checkpoint truncates lineage to a Scan ExistingRDD, so without the
    recorded subtrees a cartesian product or row UDF could hide behind
    one."""
    df_class = type(spark.range(1))
    original = df_class.__dict__["localCheckpoint"]
    plans: list[str] = []

    def recording(self, *args, **kwargs):
        plans.append(_executed_plan(self))
        return original(self, *args, **kwargs)

    df_class.localCheckpoint = recording
    out = {}
    try:
        for name, fn in all_queries().items():
            if name.startswith("streaming"):
                continue  # streaming fixtures drain checkpoints; covered elsewhere
            plans.clear()
            df = fn(spark, SF_DIR)
            out[name] = (df.schema, [*plans, _executed_plan(df)])
    finally:
        df_class.localCheckpoint = original
    return out


def test_no_cartesian_products(analyzed):
    offenders = [
        n for n, (_, plans) in analyzed.items() if any("CartesianProduct" in p for p in plans)
    ]
    assert not offenders, offenders


def test_no_row_at_a_time_python_udfs(analyzed):
    offenders = [
        n for n, (_, plans) in analyzed.items() if any("BatchEvalPython" in p for p in plans)
    ]
    assert not offenders, offenders


def test_oracle_gated_output_columns_are_atomic(analyzed):
    """Driver-contract invariant (CORRECTNESS_r03 multimodal_resize):
    the driver's pandas canonicalizer sorts every output column, and
    any cell type pandas cannot hash (bytearray, list, dict, Row,
    VariantVal) crashes it the way the BINARY resized column did.
    So an oracle-gated query's TOP-LEVEL columns must all be atomic —
    binary as hex(...) strings, arrays exploded or joined, structs
    projected, maps unpivoted. (Currently every gated query complies;
    this pins it.)"""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        MapType,
        StructType,
    )

    def non_atomic(dt) -> bool:
        return isinstance(
            dt, (ArrayType, BinaryType, MapType, StructType)
        ) or "variant" in dt.simpleString()

    gated = set(all_oracles())
    offenders = {
        n: [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in schema.fields
            if non_atomic(f.dataType)
        ]
        for n, (schema, _) in analyzed.items()
        if n in gated and any(non_atomic(f.dataType) for f in schema.fields)
    }
    assert not offenders, offenders

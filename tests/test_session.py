"""session.get_spark: the sessions it builds skip PySpark's per-call origin capture."""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.measure import py4j_calls


def test_dataframe_origin_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("a") == F.lit(1)  # the first call also resolves JVM classes
    # 7 round trips with the capture off, 27 with it on
    with py4j_calls(spark) as calls:
        F.col("a") == F.lit(1)
    assert 0 < calls.n <= 10

"""Keyed-upsert sink tests: reference argmax semantics across
batches, and partition pruning of the dynamic merge (untouched
partitions are not rewritten)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from etl_inreach_spark.sinks.upsert import upsert_latest_partitioned


def _mkdf(spark, rows):
    df = spark.createDataFrame(
        rows, "user_id string, ts string, payload string, event_id long"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "event_type", F.lit("click")
    )


def _with_part(df):
    # the partition column is a function of the key, as the sink requires
    return df.withColumn("bucket", F.pmod(F.xxhash64("user_id"), F.lit(4)))


def _state(spark, path):
    return {
        r["user_id"]: (str(r["ts"]), r["payload"])
        for r in spark.read.parquet(path).collect()
    }


def test_upsert_latest_reference_semantics(spark, tmp_path):
    path = str(tmp_path / "tbl")
    b1 = _mkdf(
        spark,
        [
            ("a", "2024-01-01 10:00:00", "a1", 1),
            ("b", "2024-01-01 10:00:00", "b1", 2),
        ],
    )
    upsert_latest_partitioned(spark, path, _with_part(b1))
    # newer a wins; EQUAL-time b must NOT replace (strict >, first-seen
    # wins — the existing row has the smaller arrival index); new key c
    b2 = _mkdf(
        spark,
        [
            ("a", "2024-01-01 11:00:00", "a2", 3),
            ("b", "2024-01-01 10:00:00", "b2", 4),
            ("c", None, "c1", 5),
        ],
    )
    upsert_latest_partitioned(spark, path, _with_part(b2))
    got = _state(spark, path)
    assert got["a"] == ("2024-01-01 11:00:00", "a2")
    assert got["b"] == ("2024-01-01 10:00:00", "b1")
    assert got["c"][1] == "c1"
    # a null-time row never replaces a timestamped one
    b3 = _mkdf(spark, [("a", None, "a3", 6)])
    upsert_latest_partitioned(spark, path, _with_part(b3))
    assert _state(spark, path)["a"] == ("2024-01-01 11:00:00", "a2")


def test_upsert_partitioned_prunes_untouched(spark, tmp_path):
    path = str(tmp_path / "ptbl")

    ids = [f"k{i}" for i in range(16)]
    b1 = _with_part(
        _mkdf(spark, [(i, "2024-01-01 10:00:00", f"{i}-v1", n) for n, i in enumerate(ids)])
    )
    upsert_latest_partitioned(spark, path, b1)
    before = _state(spark, path)
    assert len(before) == 16

    # update ONE key; only its partition's files may change
    target = ids[0]
    tpart = b1.filter(F.col("user_id") == target).select("bucket").first()["bucket"]
    untouched = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/bucket=*/*.parquet")
        if f"bucket={tpart}" not in f
    }
    b2 = _with_part(_mkdf(spark, [(target, "2024-01-01 12:00:00", "new", 99)]))
    upsert_latest_partitioned(spark, path, b2)

    got = _state(spark, path)
    assert got[target] == ("2024-01-01 12:00:00", "new")
    assert all(got[i] == before[i] for i in ids[1:])
    # untouched partitions: same files, same mtimes (never rewritten)
    assert untouched == {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/bucket=*/*.parquet")
        if f"bucket={tpart}" not in f
    }


def test_upsert_survives_empty_and_creates(spark, tmp_path):
    path = str(tmp_path / "fresh")
    empty = _with_part(_mkdf(spark, []))
    # empty batch on a missing table is a no-op, not an error
    upsert_latest_partitioned(spark, path, empty)
    assert not os.path.exists(path)

"""File-format coverage (SURVEY.md §2.2 scans/sources row): the silver
feature table round-trips losslessly through CSV and JSON with explicit
schemas — no inference jobs, scan-ready at scale."""

from __future__ import annotations

from pyspark.sql import Row

from etl_inreach_spark.plans.inreach import inreach_pipeline
from tests.test_kml_pipeline import GOOD_FEED


def _features(spark):
    shares = spark.createDataFrame(
        [Row(share_id="AAA", callsign="ALPHA", password=None)],
        "share_id string, callsign string, password string",
    )
    feeds = spark.createDataFrame([Row(share_id="AAA", body=GOOD_FEED)])
    return inreach_pipeline(shares, feeds)


def _key_rows(df):
    return sorted(
        (r["id"], r["callsign"], r["lon"], r["lat"], str(r["time"]))
        for r in df.collect()
    )


def test_csv_roundtrip_with_explicit_schema(spark, tmp_path):
    out = _features(spark)
    dest = str(tmp_path / "csv")
    # timestampFormat pins the wire format; header off + explicit read
    # schema means NO inference pass over the data
    (
        out.write.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
        .mode("overwrite")
        .csv(dest)
    )
    back = (
        spark.read.schema(out.schema)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
        .csv(dest)
    )
    assert _key_rows(back) == _key_rows(out)


def test_json_lines_roundtrip_with_explicit_schema(spark, tmp_path):
    out = _features(spark)
    dest = str(tmp_path / "jsonl")
    out.write.mode("overwrite").json(dest)
    back = spark.read.schema(out.schema).json(dest)
    assert _key_rows(back) == _key_rows(out)
    # spot-check one JSON line is plain JSONL (one object per line)
    import glob
    import json as _json

    part = glob.glob(f"{dest}/part-*.json")[0]
    first = open(part).readline()
    obj = _json.loads(first)
    assert obj["id"].startswith("inreach-")


def test_orc_roundtrip(spark, tmp_path):
    """ORC source/sink (gap-table scans/sinks row): columnar format
    with predicate pushdown, same write->read->value contract as
    parquet."""
    out = _features(spark)
    dest = str(tmp_path / "orc")
    out.write.mode("overwrite").orc(dest)
    back = spark.read.orc(dest)
    assert back.schema == out.schema
    assert _key_rows(back) == _key_rows(out)
    # pushdown reaches the ORC scan
    plan = back.filter(back["id"] == "inreach-1")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "inreach-1" in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned sink + partition-key predicate: the filter
    must resolve against directories (PartitionFilters), and only the
    matching partitions' files may be opened — the layout contract
    behind the partitioned_sink_prune query."""
    df = spark.range(100).selectExpr(
        "id", "CASE WHEN id % 5 = 0 THEN 'click' WHEN id % 5 = 1 "
        "THEN 'purchase' ELSE 'view' END AS event_type"
    )
    dest = str(tmp_path / "part")
    df.write.mode("overwrite").partitionBy("event_type").parquet(dest)
    back = spark.read.parquet(dest).filter(
        "event_type IN ('click', 'purchase')"
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the predicate must appear as a PARTITION filter on the scan (a
    # data filter would mean every file is opened and rows discarded)
    seg = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "event_type" in seg and "PartitionFilters: []" not in seg
    assert back.count() == 40  # 2 of 5 partitions' rows


def test_csv_permissive_corrupt_record_capture(spark, tmp_path):
    """Malformed rows must not kill a scan: PERMISSIVE mode parses
    what it can and lands the raw text of broken rows in
    _corrupt_record for quarantine — per-row error isolation, the
    file-scan analog of the per-feed isolation in sources/kml.py."""
    p = tmp_path / "in.csv"
    p.write_text("id,qty\n1,10\n2,notanumber\n3,30\n")
    df = (
        spark.read.schema("id bigint, qty bigint, _corrupt_record string")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
    )
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["qty"] == 10 and rows[1]["_corrupt_record"] is None
    assert rows[2]["qty"] is None and "notanumber" in rows[2]["_corrupt_record"]
    assert rows[3]["qty"] == 30

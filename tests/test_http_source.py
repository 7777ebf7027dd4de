"""KML feed DataSource tests — file:// transport, no live network."""

from __future__ import annotations

import json

import pytest

from etl_inreach_spark.sources.http_kml import (
    FETCH_THREADS,
    KMLFeedDataSource,
    build_feed_url,
    fetch_shares,
)
from tests.test_kml_pipeline import GOOD_FEED


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("feeds")
    (d / "AAA").write_text(GOOD_FEED)
    return d


def test_reads_shares_in_one_chunk_with_error_isolation(spark, feed_dir):
    spark.dataSource.register(KMLFeedDataSource)
    shares = [{"share_id": "AAA"}, {"share_id": "MISSING"}]
    df = (
        spark.read.format("kml_feed")
        .option("shares", json.dumps(shares))
        .option("base_url", f"file://{feed_dir}/")
        .option("lookback_minutes", "0")  # no d1 on file URLs
        .load()
    )
    # fewer shares than FETCH_THREADS: both come out of a single partition
    parts = df.rdd.glom().collect()
    assert len(parts) == 1
    rows = {r["share_id"]: r for r in parts[0]}
    assert set(rows) == {"AAA", "MISSING"}
    assert rows["AAA"]["body"] == GOOD_FEED and rows["AAA"]["error"] is None
    # missing feed -> error row, job still succeeds (task.ts:165-168)
    assert rows["MISSING"]["body"] is None and rows["MISSING"]["error"]


def test_source_feeds_the_pipeline(spark, feed_dir):
    from pyspark.sql import Row

    from etl_inreach_spark.plans.inreach import inreach_pipeline

    spark.dataSource.register(KMLFeedDataSource)
    feeds = (
        spark.read.format("kml_feed")
        .option("shares", json.dumps([{"share_id": "AAA"}]))
        .option("base_url", f"file://{feed_dir}/")
        .option("lookback_minutes", "0")
        .load()
        .filter("error IS NULL")
        .select("share_id", "body")
    )
    shares = spark.createDataFrame(
        [Row(share_id="AAA", callsign="ALPHA", password=None)],
        "share_id string, callsign string, password string",
    )
    ids = sorted(r["id"] for r in inreach_pipeline(shares, feeds).collect())
    assert ids == ["inreach-111", "inreach-222"]


def test_fetch_logs_each_request_and_failure(feed_dir, caplog):
    """Reference O23: one log line per share request and one per failed
    share, while the failure itself comes back as an error row."""
    import logging

    from etl_inreach_spark.sources.http_kml import fetch_one

    base = f"file://{feed_dir}/"
    with caplog.at_level(logging.INFO, logger="etl_inreach_spark.feeds"):
        ok = fetch_one("AAA", base, None, None)
        bad = fetch_one("MISSING", base, None, None)
    assert ok[1] == GOOD_FEED and ok[2] is None
    assert bad[1] is None and bad[2]
    msgs = [r.getMessage() for r in caplog.records]
    assert msgs[:2] == ["ok - requesting AAA", "ok - requesting MISSING"]
    assert msgs[2].startswith("feed MISSING failed: ")


@pytest.mark.parametrize("n", [0, 1, FETCH_THREADS, FETCH_THREADS + 1, 10_000])
def test_partitions_are_bounded_contiguous_chunks(monkeypatch, n):
    """min(parallelism, ceil(n / FETCH_THREADS)) chunks that hold every
    share exactly once, in input order."""
    from etl_inreach_spark.sources import http_kml

    monkeypatch.setattr(http_kml, "default_parallelism", lambda: 4)
    shares = [{"share_id": f"S{i}"} for i in range(n)]
    reader = http_kml.KMLFeedReader({"shares": json.dumps(shares), "lookback_minutes": "0"})
    chunks = [p.shares for p in reader.partitions()]
    assert len(chunks) == min(4, -(-n // FETCH_THREADS))
    assert [s for chunk in chunks for s in chunk] == shares
    assert all(chunks)  # no empty chunk
    assert max(map(len, chunks), default=0) - min(map(len, chunks), default=0) <= 1


def test_fetch_shares_keeps_input_order_and_isolates_failures(tmp_path):
    (tmp_path / "AAA").write_text(GOOD_FEED)
    (tmp_path / "BBB").write_text("bbb")
    # more shares than pool threads, a failing one between every good pair
    shares = [{"share_id": s} for s in ("AAA", "MISSING", "BBB")] * (FETCH_THREADS + 1)
    rows = list(fetch_shares(shares, f"file://{tmp_path}/", None))
    assert [r[0] for r in rows] == [s["share_id"] for s in shares]
    for share_id, body, error, _ in rows:
        if share_id == "MISSING":
            assert body is None and error
        else:
            assert body == (GOOD_FEED if share_id == "AAA" else "bbb") and error is None


def test_d1_lookback_is_pushed_into_url():
    # percent-encoded: '+' in a query string decodes as a space
    url = build_feed_url("https://share.garmin.com/Feed/Share/", "XYZ", "2024-01-01T00:00:00.000Z")
    assert url == "https://share.garmin.com/Feed/Share/XYZ?d1=2024-01-01T00%3A00%3A00.000Z"
    assert build_feed_url("https://h/f/", "XYZ", None) == "https://h/f/XYZ"


def test_d1_is_millisecond_z_format():
    from datetime import datetime, timezone

    from etl_inreach_spark.sources.http_kml import _utc_iso_ms

    s = _utc_iso_ms(datetime(2024, 1, 2, 3, 4, 5, 678901, tzinfo=timezone.utc))
    assert s == "2024-01-02T03:04:05.678Z"  # Date.toISOString() shape


def test_streaming_poll_source(spark, feed_dir, tmp_path_factory):
    """readStream over the feed source: one poll round per micro-batch
    (scheduled-invocation analog), error isolation preserved."""
    spark.dataSource.register(KMLFeedDataSource)
    shares = [{"share_id": "AAA"}, {"share_id": "MISSING"}]
    stream = (
        spark.readStream.format("kml_feed")
        .option("shares", json.dumps(shares))
        .option("base_url", f"file://{feed_dir}/")
        .option("lookback_minutes", "0")
        .load()
    )
    ckpt = tmp_path_factory.mktemp("ckpt_stream_src")
    q = (
        stream.writeStream.format("memory")
        .queryName("feed_stream")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["share_id"]: r for r in spark.sql("SELECT * FROM feed_stream").collect()}
    assert rows["AAA"]["body"] == GOOD_FEED and rows["AAA"]["error"] is None
    assert rows["MISSING"]["body"] is None and rows["MISSING"]["error"]

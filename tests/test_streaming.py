"""Structured Streaming pipeline tests: file-source micro-batches
through the shared KML transform surface, watermarked cross-batch
dedup, and the foreachBatch FeatureCollection sink."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import Row

from tests.test_kml_pipeline import kml_doc, pm

SHARES = [Row(share_id="AAA", callsign="ALPHA", password=None)]

# Course/Velocity are REQUIRED on Point placemarks — a feed missing
# them is dropped whole (feed-granular isolation, SURVEY.md §2.3.7)
BATCH1 = kml_doc(
    pm(when="2024-01-01T00:00:00Z", coords="-105.1,39.7,1650.0", IMEI="111",
       Name="Alpha", Id="m1", Course="45.5 ° True", Velocity="12.0 km/h",
       Device_Type="Mini", Device_Identifier="d1")
    + pm(when="2024-01-01T00:05:00Z", coords="10.0,20.0", IMEI="222",
         Name="Bravo", Id="m2", Course="90.0 ° True", Velocity="5.0 km/h",
         Device_Type="Mini", Device_Identifier="d2")
)
# second micro-batch re-delivers device 111 (overlap re-fetch) and a
# new device
BATCH2 = kml_doc(
    pm(when="2024-01-01T00:06:00Z", coords="-105.2,39.8", IMEI="111",
       Name="Alpha", Id="m3", Course="10.0 ° True", Velocity="1.0 km/h",
       Device_Type="Mini", Device_Identifier="d1")
    + pm(when="2024-01-01T00:07:00Z", coords="30.0,40.0", IMEI="333",
         Name="Charlie", Id="m4", Course="20.0 ° True", Velocity="2.0 km/h",
         Device_Type="Mini", Device_Identifier="d3")
)


@pytest.fixture()
def feed_dir(tmp_path):
    d = tmp_path / "feeds"
    d.mkdir()
    for i, body in enumerate([BATCH1, BATCH2]):
        f = d / f"batch{i}.json"
        f.write_text(json.dumps({"share_id": "AAA", "body": body}))
        # the file source orders micro-batches by modification time;
        # pin strictly increasing mtimes so batch0 is always first
        os.utime(f, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return str(d)


def test_stream_features_dedups_across_batches(spark, feed_dir, tmp_path):
    from etl_inreach_spark.streaming.pipeline import stream_features

    feeds = (
        spark.readStream.schema("share_id string, body string")
        .option("maxFilesPerTrigger", 1)  # one fixture file per micro-batch
        .json(feed_dir)
    )
    shares = spark.createDataFrame(SHARES, "share_id string, callsign string, password string")
    features = stream_features(feeds, shares)
    q = (
        features.writeStream.format("memory")
        .queryName("feat_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT id, callsign, lon, lat FROM feat_stream").collect()
    by_id = {r["id"]: r for r in got}
    # one row per device: 111 deduped across batches (first-seen wins
    # within the watermark), 222 and 333 pass through
    assert sorted(by_id) == ["inreach-111", "inreach-222", "inreach-333"]
    assert by_id["inreach-111"]["lon"] == -105.1  # batch-1 row kept
    assert by_id["inreach-111"]["callsign"] == "ALPHA"


def test_foreachbatch_sink_posts_feature_collections(spark, feed_dir, tmp_path):
    """The streaming sink is the batch sink applied per micro-batch:
    foreachBatch -> features_to_json -> post_feature_collections."""
    from etl_inreach_spark.sinks.geojson import features_to_json, post_feature_collections
    from etl_inreach_spark.streaming.pipeline import run_once, stream_features
    from tests.references import parse_feature_collection

    feeds = spark.readStream.schema("share_id string, body string").json(feed_dir)
    shares = spark.createDataFrame(SHARES, "share_id string, callsign string, password string")
    features = stream_features(feeds, shares)

    spool = tmp_path / "posts"
    spool.mkdir()

    # runs in Python workers: each POSTed document becomes one file
    def poster(doc: str) -> None:
        (spool / f"{uuid.uuid4().hex}.json").write_text(doc)

    posted = []

    def handle_batch(batch_df, batch_id: int) -> None:
        posted.append(post_feature_collections(features_to_json(batch_df), poster))

    writer = (
        features.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .foreachBatch(handle_batch)
    )
    q = run_once(writer)
    q.awaitTermination(120)

    feats = [f for p in spool.glob("*.json") for f in parse_feature_collection(p.read_text())]
    assert sum(posted) == len(feats)
    ids = sorted(f["id"] for f in feats)
    assert ids == ["inreach-111", "inreach-222", "inreach-333"]
    geom = {f["id"]: f["geometry"] for f in feats}
    assert geom["inreach-222"]["type"] == "Point"
    assert geom["inreach-222"]["coordinates"][:2] == [10.0, 20.0]


def _write_position_batches(d):
    import json as _json

    b1 = [
        {"id": "dev-1", "time": "2024-01-01T00:10:00", "arrival_idx": 0, "lon": 1.0, "lat": 1.0},
        {"id": "dev-2", "time": "2024-01-01T00:05:00", "arrival_idx": 1, "lon": 2.0, "lat": 2.0},
    ]
    b2 = [
        # dev-1: LATER -> state updates, re-emitted with new position
        {"id": "dev-1", "time": "2024-01-01T00:20:00", "arrival_idx": 0, "lon": 9.0, "lat": 9.0},
        # dev-2: EARLIER than state -> suppressed entirely
        {"id": "dev-2", "time": "2024-01-01T00:01:00", "arrival_idx": 1, "lon": 0.0, "lat": 0.0},
    ]
    for i, batch in enumerate([b1, b2]):
        f = d / f"b{i}.json"
        f.write_text("\n".join(_json.dumps(r) for r in batch))
        os.utime(f, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))


def test_foreachbatch_state_latest_position(spark, tmp_path):
    """Portable cross-run state: parquet state table merged with each
    micro-batch via the batch argmax; only changed devices are
    emitted."""
    from etl_inreach_spark.streaming.stateful import latest_position_foreachbatch

    d = tmp_path / "posfeed2"
    d.mkdir()
    _write_position_batches(d)

    feeds = (
        spark.readStream.schema(
            "id string, time timestamp, arrival_idx long, lon double, lat double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    emitted = []

    def emit(changed_df):
        emitted.extend(
            (r["id"], r["lon"]) for r in changed_df.orderBy("id").collect()
        )

    writer = latest_position_foreachbatch(
        feeds, str(tmp_path / "state"), emit
    ).option("checkpointLocation", str(tmp_path / "ckpt_fb"))
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(180)

    # batch1 emits both devices; batch2 re-emits only dev-1 (fresher);
    # dev-2's stale report is absorbed by state
    assert emitted == [("dev-1", 1.0), ("dev-2", 2.0), ("dev-1", 9.0)]
    final = {r["id"]: r["lon"] for r in spark.read.parquet(str(tmp_path / "state")).collect()}
    assert final == {"dev-1": 9.0, "dev-2": 2.0}


def test_groupstate_latest_position_across_batches(spark, tmp_path):
    """applyInPandasWithState (GroupState): per-device state carried
    across micro-batches, stale updates suppressed, fresher ones
    re-emitted."""
    from etl_inreach_spark.streaming.stateful import latest_position_groupstate

    d = tmp_path / "posfeed_gs"
    d.mkdir()
    _write_position_batches(d)

    feeds = (
        spark.readStream.schema(
            "id string, time timestamp, arrival_idx long, lon double, lat double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    out = latest_position_groupstate(feeds)
    q = (
        out.writeStream.format("memory")
        .queryName("gs_latest_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "gs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("gs_latest_test").collect()
    # dev-1 emitted in both batches (update), dev-2 only in batch 1
    per_dev = {}
    for r in rows:
        per_dev.setdefault(r["id"], []).append((r["time"], r["lon"], r["lat"]))
    assert len(per_dev["dev-1"]) == 2
    assert len(per_dev["dev-2"]) == 1
    final = {k: max(v) for k, v in per_dev.items()}
    assert final["dev-1"][1:] == (9.0, 9.0)
    assert final["dev-2"][1:] == (2.0, 2.0)

"""binaryFile media ingestion (sources/binary_media.py): schema,
top-level-only listing, metadata-only pruning, and hand-off into the
mapInPandas feature extractor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def media_dir(tmp_path):
    (tmp_path / "a.png").write_bytes(b"\x89PNG\r\n" + b"x" * 100)
    (tmp_path / "b.jpg").write_bytes(b"\xff\xd8\xff" + b"y" * 50)
    (tmp_path / "c.wav").write_bytes(b"RIFF" + b"z" * 2000)
    (tmp_path / "notes.txt").write_bytes(b"hello world")
    (tmp_path / "mystery.zzz").write_bytes(b"??")
    sub = tmp_path / "nested"
    sub.mkdir()
    (sub / "d.png").write_bytes(b"\x89PNG\r\n" + b"deep")
    return str(tmp_path)


def test_read_binary_media_schema_and_mime(spark, media_dir):
    from etl_inreach_spark.sources.binary_media import read_binary_media
    from tests.references import MEDIA_SCHEMA

    df = read_binary_media(spark, media_dir)
    assert df.schema["media"].dataType.simpleString() == MEDIA_SCHEMA
    rows = {r["media"]["uri"].rsplit("/", 1)[-1]: r for r in df.collect()}
    # non-recursive: top-level files only
    assert set(rows) == {"a.png", "b.jpg", "c.wav", "notes.txt", "mystery.zzz"}
    assert rows["a.png"]["media"]["mime"] == "image/png"
    assert rows["b.jpg"]["media"]["mime"] == "image/jpeg"
    assert rows["c.wav"]["media"]["mime"] == "audio/x-wav"
    assert rows["notes.txt"]["media"]["mime"] == "text/plain"
    assert rows["mystery.zzz"]["media"]["mime"] is None
    assert bytes(rows["notes.txt"]["media"]["bytes"]) == b"hello world"
    assert rows["c.wav"]["length"] == 2004
    assert rows["c.wav"]["media"]["meta"]["length"] == "2004"
    # doc_id is a stable function of the path
    again = {
        r["media"]["uri"].rsplit("/", 1)[-1]: r["doc_id"]
        for r in read_binary_media(spark, media_dir).collect()
    }
    assert again == {k: r["doc_id"] for k, r in rows.items()}


def test_metadata_only_query_prunes_content_column(spark, media_dir):
    from etl_inreach_spark.sources.binary_media import read_binary_media

    df = read_binary_media(spark, media_dir).select("path", "length")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan, plan


def test_binary_media_feeds_feature_extractor(spark, media_dir):
    from etl_inreach_spark.operators.multimodal import extract_features
    from etl_inreach_spark.sources.binary_media import read_binary_media

    df = read_binary_media(spark, media_dir)
    feats = {
        r["mime"]: r
        for r in extract_features(df).filter(F.col("mime").isNotNull()).collect()
    }
    assert feats["text/plain"]["n_bytes"] == 11
    assert feats["audio/x-wav"]["n_bytes"] == 2004
    assert feats["text/plain"]["first_byte"] == ord("h")

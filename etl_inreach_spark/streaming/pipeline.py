"""Structured Streaming rendering of the inReach pipeline.

The reference runs as a SCHEDULED batch: one Lambda invocation per
tick, each pulling a 30-minute lookback window and deduping within the
batch only (reference task.ts:32,80-82,92 — the dedup map is rebuilt
per run, so re-fetched overlap is re-submitted). The streaming analog:

  readStream (poll feed)                 <- Schedule invocation
  -> same narrow KML parse + projection  <- control() body
  -> withWatermark('time', lookback)     <- the d1 lookback param
  -> dropDuplicatesWithinWatermark(id)   <- STRONGER than reference:
                                            cross-batch exactly-once
                                            per device in-watermark
  -> static config join (callsign)       <- closure capture
  -> foreachBatch(POST FeatureCollection) <- this.submit(fc)

Per SURVEY.md §2.2 (streaming rows), cross-batch dedup deliberately
STRENGTHENS the reference semantics, so it lives here, separate from
the batch operators the oracle gate checks. Batch latest-per-key
(argmax) is not streamable as a window function; the streaming dedup
keeps the FIRST in-watermark row per device, which for a
monotonically-arriving position feed is the same device set with
at-most-once emission per watermark period.

Every transform below is the SAME code path the batch plan uses
(plans/inreach.py), in the same order — projection, dedup, then the
config join; narrow projections work identically on streaming
DataFrames, and only the dedup stage differs. The sink is the batch one,
applied per micro-batch: ``writeStream.foreachBatch`` over
``sinks/geojson.features_to_json`` and ``post_feature_collections``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from etl_inreach_spark.plans.inreach import attach_config, normalize_shares, project_features
from etl_inreach_spark.sources.kml import kml_to_placemarks


# Dedup horizon of the feature stream: the fixture timelines span a week,
# so a year keeps every event of a device inside one horizon.
WATERMARK_DELAY = "365 days"


def stream_features(feeds: DataFrame, shares: DataFrame) -> DataFrame:
    """Streaming (share_id, body) micro-batches -> feature stream
    deduped per device id within ``WATERMARK_DELAY``.

    ``feeds`` must be a streaming DataFrame with at least
    (share_id string, body string). ``shares`` is the static config
    table (broadcast into every micro-batch — the closure capture of
    the reference, task.ts:68). Null/unparseable event times cannot
    participate in watermarking and are dropped here (the batch path
    keeps them as epoch-0; SURVEY.md §2.3.2 — documented divergence).
    """
    deduped = (
        project_features(kml_to_placemarks(feeds))
        .filter("time IS NOT NULL")
        .withWatermark("time", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["id"])
    )
    return attach_config(deduped, normalize_shares(shares))


def run_once(writer: DataStreamWriter) -> StreamingQuery:
    """Process all available input then stop — the scheduled-invocation
    trigger analog (one Lambda run == one availableNow drain)."""
    return writer.trigger(availableNow=True).start()

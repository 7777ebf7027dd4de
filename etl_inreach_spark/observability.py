"""Observability (reference O23, task.ts:76,101,166,190-193): per-feed
progress/error logs and row-count metrics.

The reference logs one line per feed request, a per-feed location
count, and per-feed errors, DEBUG-gated. The Spark rendering:

  * executor-side Python logging in the feed connector
    (sources/http_kml.py logs request + error per share);
  * ``Observation`` metrics attached to the dataflow — counts ride on
    the job itself (no extra pass over the data, unlike ``df.count()``)
    and surface after the first action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observe_feed_metrics(
    feeds: DataFrame, name: str = "feed_metrics"
) -> tuple[DataFrame, Observation]:
    """Attach feed-health metrics to a raw (share_id, body, error)
    scan: total rows, error rows, empty bodies. Read
    ``observation.get`` after any action on the returned frame."""
    obs = Observation(name)
    out = feeds.observe(
        obs,
        F.count(F.lit(1)).alias("n_feeds"),
        # coalesce: SUM over zero rows is NULL, and an empty feed set
        # must report 0 errors, not None
        F.coalesce(
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)), F.lit(0)
        ).alias("n_errors"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("error").isNull()
                    & (F.trim(F.coalesce(F.col("body"), F.lit(""))) == ""),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_empty_bodies"),
    )
    return out, obs


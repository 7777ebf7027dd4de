"""Reference forms the tests check engine code against. No engine code
calls them; each is the executable spec of one engine behaviour."""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_inreach_spark.operators.nb_quality import ILOG2_FRAC_BITS

# The binary-file scan's media struct (operators/multimodal.media_struct).
MEDIA_SCHEMA = "struct<uri:string,mime:string,bytes:binary,meta:map<string,string>>"


def ilog2_fp_py(x: int, frac_bits: int = ILOG2_FRAC_BITS) -> int:
    """Python replica of the fixed-point log2 (operators/nb_quality
    .with_ilog2_fp)."""
    if x < 1:
        raise ValueError("ilog2_fp requires x >= 1")
    g = 1 << frac_bits
    m = x.bit_length() - 1
    y = x << (frac_bits - m) if m <= frac_bits else x >> (m - frac_bits)
    a = 0
    for _ in range(frac_bits):
        y = (y * y) >> frac_bits
        if y >= 2 * g:
            a = a * 2 + 1
            y >>= 1
        else:
            a = a * 2
    return m * g + a


def latest_by_key_window(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    arrival_col: str | None = None,
) -> DataFrame:
    """Window rendering (row_number == 1) of operators/dedup
    .latest_by_key: latest timestamp, NULL as epoch 0, first-seen on
    ties."""
    epoch0 = F.to_timestamp(F.lit("1970-01-01 00:00:00"))
    order = [F.coalesce(F.col(ts_col), epoch0).desc()]
    if arrival_col is not None:
        order.append(F.col(arrival_col).asc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def parse_feature_collection(doc: str) -> list[dict]:
    """FeatureCollection JSON (sinks/geojson.post_feature_collections)
    -> list of feature dicts."""
    parsed = json.loads(doc)
    if parsed["type"] != "FeatureCollection":
        raise ValueError(f"not a FeatureCollection: {parsed['type']!r}")
    return parsed["features"]

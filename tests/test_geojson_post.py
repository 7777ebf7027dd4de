"""sinks/geojson.post_feature_collections: batching and document shape."""

from __future__ import annotations

import glob
import json
import os
import uuid

from etl_inreach_spark.sinks.geojson import post_feature_collections
from tests.references import parse_feature_collection


def test_post_batches_one_partition(spark, tmp_path):
    features = [
        json.dumps(
            {
                "type": "Feature",
                "id": f"f{i}",
                "geometry": {"type": "Point", "coordinates": [float(i), 1.0]},
                "properties": {},
            }
        )
        for i in range(5)
    ]
    df = spark.createDataFrame([(f,) for f in features], "feature_json string").coalesce(1)
    spool = str(tmp_path)

    # runs in Python workers: each document becomes one file
    def poster(doc: str) -> None:
        with open(os.path.join(spool, f"{uuid.uuid4().hex}.json"), "w") as fh:
            fh.write(doc)

    assert post_feature_collections(df, poster, batch_size=2) == 5
    docs = [open(p).read() for p in glob.glob(os.path.join(spool, "*.json"))]
    parsed = [parse_feature_collection(d) for d in docs]
    assert sorted(len(p) for p in parsed) == [1, 2, 2]
    assert sorted(f["id"] for p in parsed for f in p) == [f"f{i}" for i in range(5)]

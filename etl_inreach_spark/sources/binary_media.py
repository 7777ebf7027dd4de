"""Raw-media ingestion via Spark's built-in ``binaryFile`` source:
directory-of-blobs -> the engine's media-struct convention
(operators/multimodal.media_struct) in one declarative read.

Spark-first rationale: ``binaryFile`` is a real FileFormat — its scan
distributes over executors, honors partition discovery, and exposes file
metadata (path, length, modificationTime) as columns, so there is no
driver-side directory walk (the anti-pattern at 100 TB: a driver
listing of a 100M-object bucket; Spark's InMemoryFileIndex lists in
parallel). Two scale caveats a pipeline must design around, encoded
here rather than left to folklore:

* binary files DO NOT SPLIT: one file = one row = one task's memory,
  so ``spark.sql.files.maxPartitionBytes`` governs packing of SMALL
  files into tasks, while a single multi-GB video still lands whole in
  one task — a pipeline that meets oversize blobs filters them out on
  the ``length`` column (the source evaluates it from file status
  BEFORE reading content) and routes them to a chunked/streaming
  ingest instead.
* content materializes in executor memory; keep projections tight so
  column pruning can drop ``content`` on metadata-only queries.

MIME is inferred from the extension with a small builtin map
(mimetypes stdlib semantics, no network, deterministic); unknown
extensions keep NULL mime and flow to the decode stub's NULL path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_inreach_spark.operators.multimodal import media_struct

_EXT_MIME = {
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "png": "image/png",
    "gif": "image/gif",
    "webp": "image/webp",
    "bmp": "image/bmp",
    "wav": "audio/x-wav",
    "mp3": "audio/mpeg",
    "flac": "audio/flac",
    "ogg": "audio/ogg",
    "mp4": "video/mp4",
    "mkv": "video/x-matroska",
    "webm": "video/webm",
    "pdf": "application/pdf",
    "txt": "text/plain",
}


def read_binary_media(spark: SparkSession, path: str) -> DataFrame:
    """Load the top-level files of a directory of media blobs as
    ``(doc_id bigint, path string, length bigint, modified timestamp,
    media struct<uri, mime, bytes, meta>)``.

    ``doc_id`` is ``xxhash64(path)`` — stable across re-ingests and
    partitionings, joinable against downstream feature/embedding
    tables.
    """
    df = spark.read.format("binaryFile").load(path)
    ext = F.lower(
        F.when(
            F.col("path").rlike(r"\.[A-Za-z0-9]+$"),
            F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1),
        )
    )
    mime = None
    for e, m in _EXT_MIME.items():
        mime = F.when(ext == e, m) if mime is None else mime.when(ext == e, m)
    mime = mime.otherwise(F.lit(None).cast("string"))
    meta = F.create_map(
        F.lit("length"), F.col("length").cast("string"),
        F.lit("modified"), F.col("modificationTime").cast("string"),
    )
    return df.select(
        F.xxhash64(F.col("path")).alias("doc_id"),
        "path",
        "length",
        F.col("modificationTime").alias("modified"),
        media_struct(F.col("path"), mime, F.col("content"), meta).alias("media"),
    )

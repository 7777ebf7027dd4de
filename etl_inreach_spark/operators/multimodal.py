"""Multimodal column convention + decode plumbing.

Convention (SURVEY.md §7 P3): media travel as
    STRUCT<uri: STRING, mime: STRING, bytes: BINARY,
           meta: MAP<STRING,STRING>>
— bytes opaque to the engine, metadata typed, decode/feature-extract
as Arrow-batched pandas stages over mapInPandas.

The actual image/audio decoders are STUBBED: ``decode_stub`` and
``resize_stub`` return deterministic features and pixels derived from
the raw bytes. The Spark-side plumbing — schema, batch iteration,
partition shape — is real and tested; swapping the stubs for
PIL/ffmpeg is a pure function replacement.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def media_struct(uri: Column, mime: Column, data: Column, meta: Column | None = None) -> Column:
    meta_col = meta if meta is not None else F.create_map().cast("map<string,string>")
    return F.struct(
        uri.alias("uri"), mime.alias("mime"), data.alias("bytes"), meta_col.alias("meta")
    )


def decode_stub(payload: bytes) -> dict:
    """Per-item decoder stand-in: deterministic features derived from
    the raw bytes, so the pipeline is testable end-to-end."""
    return {
        "n_bytes": len(payload),
        "first_byte": payload[0] if payload else None,
        "byte_sum_mod": sum(payload[:64]) % 997,
    }


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over the ``media`` struct column
    of (doc_id, media) rows.

    Arrow ships (id, mime, bytes) batches to Python; output schema is
    fixed and engine-friendly. This is THE pattern for any real
    decode: batch-wise, columnar in/out, no per-row UDF calls.
    """
    out_schema = "doc_id bigint, mime string, n_bytes int, first_byte int, byte_sum_mod int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        null_feats = {"n_bytes": None, "first_byte": None, "byte_sum_mod": None}
        for pdf in batches:
            media = pdf["media"]
            # a NULL media struct (left joins, missing uploads) yields a
            # NULL feature row rather than a TypeError on the executor
            feats = [
                null_feats
                if m is None
                else decode_stub(m["bytes"] if m["bytes"] is not None else b"")
                for m in media
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [None if m is None else m["mime"] for m in media],
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "first_byte": [f["first_byte"] for f in feats],
                    "byte_sum_mod": [f["byte_sum_mod"] for f in feats],
                }
            )

    return df.select("doc_id", "media").mapInPandas(run, out_schema)


# Side of resize_images' square output, in pixels.
RESIZE_PX = 4


def resize_stub(payload: bytes) -> bytes:
    """Image resize stand-in: cycles the payload to RESIZE_PX * RESIZE_PX
    bytes — deterministic, so the Arrow plumbing stays testable and
    oracle-checkable. A real resize (PIL: decode, grayscale, resize,
    pixel buffer) keeps the same output-size contract."""
    size = RESIZE_PX * RESIZE_PX
    if not payload:
        return b"\x00" * size
    reps = (size + len(payload) - 1) // len(payload)
    return (payload * reps)[:size]


# sample_frames: bytes per frame chunk, and keep every FRAME_STRIDE-th chunk.
FRAME_BYTES = 32
FRAME_STRIDE = 2


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling over opaque media bytes: every FRAME_STRIDE-th
    chunk of FRAME_BYTES becomes one output row (doc_id,
    frame_idx, n_bytes, checksum). The 1->N batch shape is the real
    pattern for video decode (one input row yields many frame rows,
    still columnar through Arrow); the chunking stands in for an
    ffmpeg keyframe iterator."""
    out_schema = "doc_id bigint, frame_idx int, n_bytes int, checksum int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, sums = [], [], [], []
            for rid, m in zip(pdf["doc_id"], pdf["media"]):
                if m is None:  # NULL media struct -> no frames
                    continue
                payload = m["bytes"] if m["bytes"] is not None else b""
                n_frames = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
                for fi in range(0, n_frames, FRAME_STRIDE):
                    chunk = payload[fi * FRAME_BYTES : (fi + 1) * FRAME_BYTES]
                    ids.append(rid)
                    idxs.append(fi)
                    sizes.append(len(chunk))
                    sums.append(sum(chunk) % 997)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "frame_idx": pd.Series(idxs, dtype="int32"),
                 "n_bytes": pd.Series(sizes, dtype="int32"),
                 "checksum": pd.Series(sums, dtype="int32")}
            )

    return df.select("doc_id", "media").mapInPandas(run, out_schema)


def resize_images(df: DataFrame) -> DataFrame:
    """Batch ``RESIZE_PX`` x ``RESIZE_PX`` image resize over the
    ``media`` struct column — the same
    Arrow mapInPandas plumbing a real PIL/opencv resize drops into
    (swap resize_stub for the library call; schema, batching and
    NULL handling are already production-shaped). Output carries the
    resized payload plus its dimensions; NULL media yields NULL bytes.
    """
    out_schema = "doc_id bigint, width int, height int, resized binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = pdf["media"]
            resized = [
                None
                if m is None
                else resize_stub(m["bytes"] if m["bytes"] is not None else b"")
                for m in media
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series([RESIZE_PX] * len(pdf), dtype="int32"),
                    "height": pd.Series([RESIZE_PX] * len(pdf), dtype="int32"),
                    "resized": resized,
                }
            )

    return df.select("doc_id", "media").mapInPandas(run, out_schema)

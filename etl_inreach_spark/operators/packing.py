"""Sequence packing for LLM pretraining: turn a token-counted corpus
into fixed-capacity context windows. Generalizes the reference's
"assemble rows into one batched output" step (the FeatureCollection
union, /root/reference/task.ts:172-180) into the two packing
disciplines a 100 TB training pipeline actually uses:

* ``pack_chunks`` — concat-and-chunk: documents are laid end-to-end in
  a deterministic global order and the token stream is cut every
  ``capacity`` tokens (documents may straddle chunk boundaries). This
  is the classic GPT-style packing. The hard part at scale is the
  GLOBAL prefix sum of token counts; a single `Window.orderBy` would
  funnel the whole corpus through ONE partition, so it is computed as
  a two-level distributed prefix sum (per-range-bucket totals -> tiny
  cumulative join -> within-bucket window), which shuffles each row
  once and runs the only global window over B bucket rows, not N doc
  rows.

* ``pack_bins_nextfit`` — next-fit bin packing: within each bucket,
  documents are taken in id order and appended to the current bin
  while they fit; a document that does not fit closes the bin and
  opens a new one (documents never split; an oversized document gets
  a bin of its own). Sequential by construction, so it runs as an
  ``applyInPandas`` grouped-map over hash buckets — the engine's
  sanctioned escape hatch for genuinely order-dependent per-group
  logic. Buckets are independent, so parallelism = number of buckets;
  a production run sizes ``num_buckets`` so each bucket's id+count
  pairs fit a worker's memory (two int64 columns — ~16 bytes/doc).

Both operators are pure functions of (id, token_count): deterministic
on any cluster, any partitioning — and therefore fully value-checkable
against a SQL oracle (the next-fit recurrence maps onto a recursive
CTE).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_chunks(
    df: DataFrame,
    capacity: int,
    num_buckets: int = 256,
) -> DataFrame:
    """Concat-and-chunk packing of documents whose token count is the
    ``_tokcnt`` column: global token offset per document (in
    ``doc_id`` order) and the [chunk_start, chunk_end] range of
    ``capacity``-token windows the document occupies.

    Output: (doc_id, n_tokens, tok_offset, chunk_start, chunk_end,
    n_chunks). Documents with zero tokens are dropped (they occupy no
    window).

    Scale shape: bucket = floor(id * B / (max_id + 1)) keeps bucket
    order aligned with id order; per-bucket totals are a map-side
    combined groupBy (B rows), their running sum is the only global
    window (over B rows), and each row's final offset needs one
    broadcast join plus one WITHIN-bucket window — no single-partition
    pass over the corpus anywhere.
    """
    d = df.select(
        F.col("doc_id").alias("_id"), F.col("_tokcnt").cast("bigint").alias("_tok")
    ).filter(F.col("_tok") > 0)

    # id-range bucketing via a lazily-joined bound (no driver collect):
    # one tiny agg, broadcast into the row stream.
    bounds = d.agg((F.max("_id") + 1).alias("_hi"))
    d = d.crossJoin(F.broadcast(bounds)).withColumn(
        "_bucket", (F.col("_id") * num_buckets / F.col("_hi")).cast("bigint")
    )

    totals = d.groupBy("_bucket").agg(F.sum("_tok").alias("_btot"))
    # Global window over <= num_buckets rows — intentionally tiny.
    base = totals.withColumn(
        "_base",
        F.coalesce(
            F.sum("_btot").over(
                Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_bucket", "_base")

    w = (
        Window.partitionBy("_bucket")
        .orderBy("_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        d.join(F.broadcast(base), "_bucket")
        .withColumn("_local", F.coalesce(F.sum("_tok").over(w), F.lit(0)))
        .withColumn("tok_offset", F.col("_base") + F.col("_local"))
    )
    chunk_start = F.floor(F.col("tok_offset") / capacity)
    chunk_end = F.floor((F.col("tok_offset") + F.col("_tok") - 1) / capacity)
    return out.select(
        F.col("_id").alias("doc_id"),
        F.col("_tok").alias("n_tokens"),
        "tok_offset",
        chunk_start.alias("chunk_start"),
        chunk_end.alias("chunk_end"),
        (chunk_end - chunk_start + 1).alias("n_chunks"),
    )


def pack_bins_nextfit(
    df: DataFrame,
    capacity: int,
    num_buckets: int = 16,
) -> DataFrame:
    """Next-fit bin packing of documents whose token count is the
    ``_tokcnt`` column, per hash bucket (bucket = doc_id % num_buckets,
    documents in doc_id order within the bucket).

    Output: (doc_id, bucket, n_tokens, bin_seq, bin_fill) where bin_seq is
    1-based within the bucket and bin_fill is the bin's running token
    count after placing this document. Zero-token documents are
    dropped. A document larger than ``capacity`` always opens (and
    overflows) its own bin — next-fit never splits documents.

    The recurrence fill' = fill + tok if it fits else tok is inherently
    sequential, so each bucket is packed in one pass inside an
    Arrow-batched grouped-map; everything before/after the
    applyInPandas stays relational.
    """
    d = df.select(
        F.col("doc_id").alias("_id"), F.col("_tokcnt").cast("bigint").alias("_tok")
    ).filter(F.col("_tok") > 0)
    d = d.withColumn("_bucket", F.pmod(F.col("_id"), F.lit(num_buckets)))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        bin_seq: list[int] = []
        bin_fill: list[int] = []
        seq, fill = 0, None
        for tok in pdf["_tok"]:
            if fill is None or fill + tok > capacity:
                seq += 1
                fill = int(tok)
            else:
                fill += int(tok)
            bin_seq.append(seq)
            bin_fill.append(fill)
        pdf["bin_seq"] = pd.Series(bin_seq, dtype="int64")
        pdf["bin_fill"] = pd.Series(bin_fill, dtype="int64")
        return pdf

    out = d.groupBy("_bucket").applyInPandas(
        pack,
        schema=(
            "_id bigint, _tok bigint, _bucket bigint, bin_seq bigint, bin_fill bigint"
        ),
    )
    return out.select(
        F.col("_id").alias("doc_id"),
        F.col("_bucket").alias("bucket"),
        F.col("_tok").alias("n_tokens"),
        "bin_seq",
        "bin_fill",
    )

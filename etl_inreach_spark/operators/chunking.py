"""Document chunking for retrieval / training-context assembly: split
each document's token sequence into fixed-capacity windows with a
configurable stride (overlap = capacity - stride), the standard RAG /
long-context preprocessing step.

Distinct from sequence PACKING (operators/packing.py): packing
concatenates many docs into fixed bins; chunking splits one doc into
overlapping windows. Complements it on the corpus -> training-batches
path.

Scale design: a narrow shuffle-free plan — every row's chunks derive
from that row alone, so the operator is exactly as partitionable as
the parquet scan itself. Tokenization (the dominant per-row cost) is
guaranteed to run ONCE per document by binding the token array to a
HOF lambda variable and assembling the full chunk-struct array inside
that lambda: Catalyst's predicate pushdown and CollapseProject
substitute multiply-referenced aliases into every consumer (the
round-3 from_xml lesson — a naive "select tokens then filter then
chunk" rendering tokenized each document 2-3x, visible as repeated
filter(split(...)) subtrees in the optimized plan), but no rule
substitutes through a lambda variable. The per-chunk slice/array_join
work inside the lambda is interpreted (HOFs are CodegenFallback), yet
it operates on the already-materialized token array and is the
output payload itself — the expensive split+filter runs exactly once
(pinned by tests/test_training.py::TestChunking plan test). The
explode is the OUTER form with a post-filter on the generated column
so InferFiltersFromGenerate cannot re-derive a size() predicate and
push a second tokenization into the scan (same pattern as
sources/kml.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_inreach_spark.functions.text import tokens


def chunk_tokens(
    df: DataFrame,
    capacity: int = 128,
    stride: int = 96,
) -> DataFrame:
    """(doc_id, chunk_idx, start_tok, n_tokens, chunk_text): ``text``'s
    whitespace tokens split into windows of ``capacity`` tokens starting every
    ``stride`` tokens (trailing windows may be short; zero-token docs
    emit no chunks). chunk_idx is 0-based; start_tok = chunk_idx *
    stride. Deterministic pure function of (doc_id, text)."""
    if stride <= 0 or capacity <= 0:
        raise ValueError("capacity and stride must be positive")

    def chunk_array(ts: Column) -> Column:
        # ``ts`` is a lambda variable: evaluated once per document, and
        # every reference below reads the materialized array (size()
        # and slice() on an evaluated array are O(chunk), not O(doc)).
        n = F.size(ts)
        starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
        return F.when(
            n > 0,
            F.transform(
                starts,
                lambda s: F.struct(
                    s.cast("bigint").alias("start_tok"),
                    F.least(F.lit(capacity), n - s).cast("bigint").alias("n_tokens"),
                    F.array_join(F.slice(ts, s + 1, F.lit(capacity)), " ").alias(
                        "chunk_text"
                    ),
                ),
            ),
        )

    bound = F.element_at(
        F.transform(F.array(tokens(F.col("text"))), chunk_array), 1
    )
    staged = df.select(F.col("doc_id"), bound.alias("_chunks"))
    exploded = staged.select(
        F.col("doc_id"),
        F.posexplode_outer(F.col("_chunks")).alias("chunk_idx", "_c"),
    ).filter(F.col("chunk_idx").isNotNull())
    return exploded.select(
        F.col("doc_id"),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("_c.start_tok").alias("start_tok"),
        F.col("_c.n_tokens").alias("n_tokens"),
        F.col("_c.chunk_text").alias("chunk_text"),
    )

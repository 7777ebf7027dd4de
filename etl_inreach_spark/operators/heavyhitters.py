"""Distributed Misra–Gries heavy hitters — mergeable frequent-item
summaries (Misra & Gries, "Finding repeated elements", 1982; merge
rule from Agarwal et al., "Mergeable summaries", PODS 2012).

The count-min sketch (operators/cms.py) answers "how often did THIS
key occur" but cannot enumerate the frequent keys; Misra–Gries finds
them: a k-counter summary processed in one pass guarantees every item
with true count > n/(k+1) survives, with per-item undercount at most
n/(k+1). At 100 TB this replaces a full-cardinality groupBy (shuffle
of every distinct key — vocabularies run to billions) with:

1. per-partition summaries: one sequential pass per partition inside
   an Arrow-batched ``mapInPandas`` whose generator keeps the
   k-counter dict ACROSS batches (partition-scoped state — the
   sanctioned pandas-tier shape for genuinely sequential logic);
   each partition emits <= k (item, count, processed) rows;
2. relational merge (the PODS'12 rule): pointwise-SUM the summaries
   per item (a <= P*k-row shuffle, NOT the corpus), then subtract the
   (k+1)-th largest merged count from every item and drop the
   non-positive — the result is again a valid k-summary of the whole
   stream, with the same n/(k+1) error bound for the TOTAL n.

Both halves are deterministic given the partitioning for counts, and
the survival GUARANTEE (every truly-frequent item present, estimates
within the bound) holds for ANY partitioning — that invariant, not
count equality, is what tests/test_heavyhitters.py pins, alongside an
exact-groupBy cross-check on the synthetic corpus.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _mg_partition(k: int):
    """mapInPandas body: one Misra–Gries k-summary of column ``_v``."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # NOT row-at-a-time: each Arrow batch is counted with the
        # vectorized value_counts (an EXACT, error-0 summary of the
        # batch) and merged into the running k-summary with the same
        # Agarwal merge rule the relational stage uses (pointwise sum,
        # subtract the (k+1)-th largest, drop non-positive). Python
        # touches O(k + batch_distinct) dict entries per batch, never
        # per row, and the error bound composes exactly as in the
        # cross-partition merge.
        counters: dict = {}
        for pdf in batches:
            for item, c in pdf["_v"].dropna().value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                kth = sorted(counters.values(), reverse=True)[k]
                counters = {
                    i: c - kth for i, c in counters.items() if c - kth > 0
                }
        yield pd.DataFrame(
            {
                "item": list(counters.keys()),
                "cnt": pd.Series(list(counters.values()), dtype="int64"),
            }
        )

    return run


def heavy_hitters(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """(item, est_count, n_total): the merged Misra–Gries k-summary
    over ``df[col]``.

    ``est_count`` undercounts by at most n_total/(k+1): it is a LOWER
    bound on the true count, est_count + n_total/(k+1) an upper
    bound, and every item with true count > n_total/(k+1) is
    guaranteed present. The merge subtracts the (k+1)-th largest
    pointwise-summed count (Agarwal et al.) so the bound composes
    across partitions. The merge-side window runs over <= P*k rows
    (partitions x counters) — bounded by construction, never the
    corpus.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    field = df.schema[col].dataType.simpleString()
    summaries = df.select(F.col(col).alias("_v")).mapInPandas(
        _mg_partition(k),
        schema=f"item {field}, cnt bigint",
    )
    # Exact total non-null count for the error bound — one cheap
    # count() aggregation (the `processed` column the summaries carry
    # is per-partition and not safely re-aggregable after the shuffle).
    n_total = df.select(F.count(F.col(col)).alias("_n"))

    merged = summaries.groupBy("item").agg(F.sum("cnt").alias("_sum"))
    w = Window.orderBy(F.col("_sum").desc(), F.col("item").asc())
    ranked = merged.withColumn("_rk", F.row_number().over(w))
    # (k+1)-th largest merged count; 0 when fewer than k+1 items
    kth = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("_rk") == k + 1, F.col("_sum"))), F.lit(0)
        ).alias("_kth")
    )
    return (
        ranked.filter(F.col("_rk") <= k)
        .crossJoin(F.broadcast(kth))
        .crossJoin(F.broadcast(n_total))
        .select(
            "item",
            (F.col("_sum") - F.col("_kth")).alias("est_count"),
            F.col("_n").alias("n_total"),
        )
        .filter(F.col("est_count") > 0)
    )

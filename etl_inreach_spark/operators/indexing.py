"""Global row indexing and deterministic negative sampling.

``global_row_index`` assigns every row its exact 0-based position in a
total key order — the DataFrame-native ``zipWithIndex`` Spark lacks:
``monotonically_increasing_id`` leaves partition-sized gaps and is
partitioning-dependent, and ``row_number() OVER (ORDER BY ...)``
funnels the whole relation through ONE partition. This uses the
two-level distributed prefix sum (the operators/packing.pack_chunks
discipline with a unit token count): range-bucket on the leading key,
per-bucket counts (B rows) take the only global window, each row pays
one within-bucket window plus a broadcast join. Deterministic for any
partitioning because the index is a pure function of the sort key.

``negative_sample`` builds k pseudo-random NEGATIVES per anchor for
contrastive training — (anchor, negative) pairs where the negative is
a deterministic hash-picked corpus row, excluding the anchor itself
and rows sharing its group (e.g. same source, which near-duplicate
clusters make "false negatives"). The pick is index-based: slot j of
anchor a targets position H(a, j) mod N in the globally-indexed
corpus, so candidate generation is an EQUI-JOIN on the index — never
a cross join, never a per-row UDF — and reproducible on any cluster.
Collisions (self/same-group hits) are filtered, so an anchor may
yield slightly fewer than k pairs; production re-probes with extra
slots, the same plan shape (documented, deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_inreach_spark.operators.sampling import HASH_MOD, HASH_MULT


def global_row_index(
    df: DataFrame,
    order_col: str,
    num_buckets: int = 256,
) -> DataFrame:
    """Exact dense 0-based index in ascending ``order_col`` order
    (ties impossible: the column must be unique — ids; values must be
    non-negative and far from bigint range so key * num_buckets
    cannot overflow). Output = the input plus ``row_index``.

    Scale shape: bucket = floor(key * B / (max_key + 1)) is monotone
    in the key, so bucket order IS key order; per-bucket counts give
    the base offsets through a <= B-row global window, and each row's
    final index is base + within-bucket row_number - 1. Each row
    shuffles once (into its bucket's window); no single-partition
    pass over the relation anywhere.
    """
    bounds = df.agg((F.max(order_col) + 1).alias("_hi"))
    b = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_bucket",
        (F.col(order_col) * num_buckets / F.col("_hi")).cast("bigint"),
    )
    counts = b.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_bn"))
    base = counts.withColumn(
        "_base",
        F.coalesce(
            F.sum("_bn").over(
                Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_bucket", "_base")
    w = Window.partitionBy("_bucket").orderBy(order_col)
    return (
        b.join(F.broadcast(base), "_bucket")
        .withColumn("row_index", F.col("_base") + F.row_number().over(w) - 1)
        .drop("_bucket", "_hi")
    )


def negative_sample(corpus: DataFrame, k: int) -> DataFrame:
    """(anchor_id, slot, neg_id, anchor_source, neg_source): up to ``k``
    deterministic negatives per corpus ``doc_id``, excluding the anchor
    itself and any row of the same ``source``.

    Slot j of anchor a targets corpus position
    ``(hash(a) + j * hash2(a)) mod N`` (double hashing, so one
    anchor's slots spread instead of clustering); candidates resolve
    through ONE equi-join against the globally-indexed corpus. The
    join is uniform by construction — every corpus position receives
    ~|anchors| * k / N probes — so no skew handling is needed.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # LAZY checkpoint (r11): the indexed corpus is referenced THREE
    # times below (the N count, the anchor side, the negative side) and
    # unmaterialized each reference replays the whole two-level
    # prefix-sum subtree (~8 Exchanges each, 48 in the full plan). The
    # lazy checkpoint dedupes them at execution — whichever job touches
    # a partition first computes and persists it, the others read it
    # (BlockManager block locks) — without the extra build job an eager
    # checkpoint would pay.
    indexed = global_row_index(
        corpus.select("doc_id", "source"), "doc_id"
    ).localCheckpoint(eager=False)
    n_rel = indexed.agg(F.count(F.lit(1)).alias("_n"))

    anchors = indexed.select(
        F.col("doc_id").alias("anchor_id"),
        F.col("row_index").alias("_arow"),
        F.col("source").alias("anchor_source"),
    )
    slots = anchors.crossJoin(F.broadcast(n_rel)).select(
        "anchor_id",
        "_arow",
        "_n",
        "anchor_source",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("slot"),
    )
    h1 = (F.col("anchor_id").cast("bigint") * F.lit(HASH_MULT)) % F.lit(HASH_MOD)
    # second hash must be odd-stepped so slot strides hit distinct
    # positions for any N; 2h+1 is the classic guarantee
    h2 = (h1 * F.lit(2) + F.lit(1)) % F.lit(HASH_MOD)
    target = F.pmod(h1 + F.col("slot") * h2, F.col("_n"))
    probes = slots.withColumn("_trow", target)

    neg = indexed.select(
        F.col("doc_id").alias("neg_id"),
        F.col("row_index").alias("_trow"),
        F.col("source").alias("neg_source"),
    )
    joined = probes.join(neg, "_trow")
    keep = (F.col("neg_id") != F.col("anchor_id")) & (
        ~F.col("anchor_source").eqNullSafe(F.col("neg_source"))
    )
    # The odd stride guarantees distinct slot targets only for
    # power-of-2 N; for arbitrary N two slots of one anchor can land
    # on the same position. Keep the lowest slot per (anchor, neg) —
    # one output-bounded aggregation — so the pair set is clean.
    deduped = (
        joined.filter(keep)
        .groupBy("anchor_id", "neg_id")
        .agg(
            F.min("slot").alias("slot"),
            F.first("anchor_source").alias("anchor_source"),
            F.first("neg_source").alias("neg_source"),
        )
    )
    return deduped.select("anchor_id", "slot", "neg_id", "anchor_source", "neg_source")

"""KMV (k-minimum-values) sketches with SET OPERATIONS — mergeable
distinct-count state that also estimates union, intersection, and
Jaccard between corpora (Bar-Yossef et al., "Counting distinct
elements in a data stream", RANDOM 2002; Beyer et al., "On synopses
for distinct-value estimation under multiset operations", SIGMOD
2007).

The single-set estimator is already value-oracled as the
``kmv_distinct_users`` query; this module packages the sketch as a
RELATION (one row, one sorted array of the k smallest distinct
portable hashes) so that corpus-level set arithmetic runs entirely
JVM-side on kilobyte state:

* union:        the k smallest of K(A) ∪ K(B) is exactly K(A ∪ B) —
                KMV's defining mergeability;
* Jaccard:      |K(A∪B) ∩ K(A) ∩ K(B)| / |K(A∪B)| is an unbiased
                Jaccard estimator (the merged sketch is a uniform
                sample of A ∪ B under the hash order);
* intersection: J_hat * |A ∪ B|_hat.

The flagship use is corpus-overlap / contamination ESTIMATION at
100 TB: exact train-vs-eval shingle overlap (contamination_check)
requires a join against the eval set; two KMV sketches reduce the
question to one pass per corpus + constant-size arithmetic, and the
sketches are monoid state that the incremental-aggregation MERGE sink
can maintain per batch (same composition law the CMS pipeline pins).

Everything is the portable (A*u + B) mod 2^31-1 hash grammar shared
with kmv_distinct_users, so estimates are bit-identical on any
engine/cluster/partitioning — pinned against a straight-Python
replica in tests/test_kmv.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Same constants as the kmv_distinct_users query (queries_relational).
KMV_A = 1103515245
KMV_B = 12345
KMV_M = (1 << 31) - 1


def kmv_hash(key: Column) -> Column:
    """Portable universal hash into [0, 2^31-1).

    The key is folded mod M BEFORE the affine multiply (same pattern
    as ``cms._fold``): the product then tops out at ~2.4e18 < 2^63,
    so the hash is ANSI-overflow-safe over the FULL bigint key range,
    and ``pmod`` keeps negative keys non-negative instead of silently
    skewing the (k-1)*M/kth estimator."""
    folded = F.pmod(key.cast("bigint"), F.lit(KMV_M))
    return F.pmod(F.lit(KMV_A) * folded + F.lit(KMV_B), F.lit(KMV_M))


def kmv_sketch(df: DataFrame, key: Column, k: int = 256) -> DataFrame:
    """One-row relation ``(ks array<bigint>)``: the sorted k smallest
    DISTINCT hashes of ``key``. Scale shape: distinct is a map-side
    combined groupBy on a single bigint column; the k-smallest cut is
    ``ORDER BY LIMIT k`` (TakeOrdered — bounded per-partition heaps);
    the final collect_list runs over <= k rows. The sketch is monoid
    state: merge = k smallest of the concatenation."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return (
        df.select(kmv_hash(key).alias("_h"))
        .distinct()
        .orderBy(F.col("_h").asc())
        .limit(k)
        .agg(F.sort_array(F.collect_list("_h")).alias("ks"))
    )


def _est(ks: Column, k: int) -> Column:
    """Distinct-count estimate from a (sorted, <= k element) sketch:
    (k-1) * M / kth when the sketch is full, exact size otherwise —
    the same formula the value-oracled query uses."""
    return F.when(
        F.size(ks) >= k,
        F.lit(float(k - 1) * KMV_M) / F.element_at(ks, k),
    ).otherwise(F.size(ks).cast("double"))


def kmv_set_estimates(
    sk_a: DataFrame, sk_b: DataFrame, k: int = 256
) -> DataFrame:
    """One row: (distinct_a, distinct_b, union_est, jaccard_est,
    intersect_est) — all from the two kilobyte sketches, no pass over
    either corpus."""
    a = sk_a.select(F.col("ks").alias("_ka"))
    b = sk_b.select(F.col("ks").alias("_kb"))
    j = a.crossJoin(F.broadcast(b))
    merged = F.slice(F.array_sort(F.array_union("_ka", "_kb")), 1, k)
    out = j.select(
        "_ka",
        "_kb",
        merged.alias("_km"),
    )
    in_both = F.size(
        F.array_intersect("_km", F.array_intersect("_ka", "_kb"))
    )
    jaccard = F.when(F.size("_km") > 0, in_both / F.size("_km")).otherwise(
        F.lit(0.0)
    )
    return out.select(
        _est(F.col("_ka"), k).alias("distinct_a"),
        _est(F.col("_kb"), k).alias("distinct_b"),
        _est(F.col("_km"), k).alias("union_est"),
        jaccard.alias("jaccard_est"),
        (jaccard * _est(F.col("_km"), k)).alias("intersect_est"),
    )

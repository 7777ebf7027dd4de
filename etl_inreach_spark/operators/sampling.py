"""Weighted sampling operators for corpus curation.

``priority_sample`` implements Priority Sampling (Duffield, Lund,
Thorup, "Priority sampling for estimation of arbitrary subset sums",
JACM 2007): each row gets priority q_i = w_i / u_i with u_i uniform in
(0, 1]; the k highest-priority rows form the sample, and the (k+1)-th
priority tau turns the sample into an UNBIASED subset-sum estimator
via the adjusted weight w'_i = max(w_i, tau). It is the
weighted-without-replacement counterpart of the repo's deterministic
uniform samplers (queries_curation.stratified_sample_documents /
reservoir_sample_per_source): pick the high-quality / high-weight rows
preferentially, but keep the ability to estimate any downstream
aggregate over the FULL corpus from the sample alone.

Determinism discipline (matches queries_curation): u_i is a pure
integer function of the row id — the Knuth multiplicative hash mapped
into (0, 2^32] — so the sample is reproducible on any cluster and any
partitioning, and the priority w / (h+1) is a single IEEE-754 double
division of two integers, which every engine rounds identically (the
oracle-portability requirement; no libm log/pow anywhere).

Scale shape:
* global sampling is ``ORDER BY priority DESC LIMIT k+1`` — Spark
  plans TakeOrderedAndProject: each partition keeps its local top
  (k+1) in a bounded heap and only those candidates reach the driver
  merge, so there is NO global sort and NO single-partition window.
  The tau/rank pass then runs on <= k+1 rows.
* stratified sampling is one shuffle on the strata keys + a bounded
  per-stratum heap (row_number window over rank order), the same
  shape as operators/dedup.topk_by_key.

Reference parity: generalizes the reference's keep-the-best-rows
selection (/root/reference/task.ts:151-159 keeps the newest row per
key) to weighted best-k-with-estimation.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Same constants as queries_curation's deterministic samplers; like
# there, the multiply is overflow-free for ids < 2^32 (id * MULT <
# 2^63) — for larger production id spaces swap in xxhash64(id) (same
# plan shape; the Knuth form is what a SQL oracle can render 1:1).
HASH_MULT = 2654435761
HASH_MOD = 4294967296  # 2^32


def priority_of(id_col: Column, weight_col: Column) -> Column:
    """q = w / u with u = (knuth_hash(id) + 1) / 2^32 in (0, 1].

    Rendered as w * 2^32 / (h + 1); the scale factor keeps priorities
    comparable to weights. One bigint multiply + one double division —
    bit-identical across engines.
    """
    h = (id_col.cast("bigint") * F.lit(HASH_MULT)) % F.lit(HASH_MOD)
    return (weight_col.cast("double") * F.lit(float(HASH_MOD))) / (
        (h + F.lit(1)).cast("double")
    )


def priority_sample(
    df: DataFrame,
    k: int,
    strata_cols: Sequence[str] | None = None,
) -> DataFrame:
    """k-row priority sample of ``doc_id`` rows weighted by ``n_chars``
    (global, or per stratum when ``strata_cols`` is given), with the
    DLT adjusted weight.

    Output = the selected rows with three extra columns:
    ``priority`` (double), ``sample_rank`` (1-based within the
    stratum / globally), and ``est_weight`` = max(w, tau) — summing
    ``est_weight`` over any subset of the sample unbiasedly estimates
    that subset's true total weight in the full input. When a stratum
    has <= k rows, tau = 0 and est_weight = w exactly.

    Ties are impossible for distinct ids with equal weights only if
    hashes differ; the ordering still tie-breaks on id so the sample
    is deterministic even under crafted collisions.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pri = priority_of(F.col("doc_id"), F.col("n_chars")).alias("priority")
    base = df.withColumn("priority", pri)
    order = [F.col("priority").desc(), F.col("doc_id").asc()]

    if strata_cols:
        w_rank = Window.partitionBy(*strata_cols).orderBy(*order)
        cand = base.withColumn("sample_rank", F.row_number().over(w_rank)).filter(
            F.col("sample_rank") <= k + 1
        )
        w_str = Window.partitionBy(*strata_cols)
    else:
        # TakeOrderedAndProject: bounded per-partition heaps, no sort.
        cand = (
            base.orderBy(*order)
            .limit(k + 1)
            .withColumn(
                "sample_rank", F.row_number().over(Window.orderBy(*order))
            )
        )
        w_str = Window.partitionBy()
    # tau = the (k+1)-th priority; absent (stratum smaller than k+1)
    # -> 0, which makes est_weight = w exactly (the DLT convention).
    tau = F.coalesce(
        F.max(F.when(F.col("sample_rank") == k + 1, F.col("priority"))).over(w_str),
        F.lit(0.0),
    )
    return (
        cand.withColumn("_tau", tau)
        .filter(F.col("sample_rank") <= k)
        .withColumn(
            "est_weight", F.greatest(F.col("n_chars").cast("double"), F.col("_tau"))
        )
        .drop("_tau")
    )

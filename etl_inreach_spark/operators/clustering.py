"""Deterministic distributed k-means: exact-integer Lloyd iterations
that are bit-for-bit partition-invariant.

A float-averaging Lloyd trainer (such as ``pq_train`` in
operators/pq.py) is deterministic only up to float-summation order — a
repartition can
flip the last ulp of a mean and, through an argmin tie, a whole
assignment. This module removes that caveat: every quantity the
algorithm compares or accumulates is a 64-bit integer, so the trained
model is a pure function of (data, k, scale_bits, max_iter) and NOT of
partitioning, task scheduling, or Arrow batch boundaries. That is what
"replay-safe" has to mean on a 1000-executor cluster where stragglers
get re-scheduled and AQE re-plans shuffles mid-query.

Construction (Lloyd 1982; the fixed-point quantization is the
standard trick from integer DSP):

  * vectors are quantized once: ``q_j = floor(v_j * 2^scale_bits +
    0.5)`` (round-half-up, exact in float64 for |v| < 2^(52-bits)).
  * centroids LIVE in the same integer grid. The squared-distance
    ORDER between a row ``q`` and centroids ``c_a, c_b`` only needs
    ``|c|^2 - 2<q,c>`` (the ``|q|^2`` term is constant per row), which
    is exact int64 arithmetic.
  * the update step accumulates per-cluster component SUMS (int64,
    associative+commutative → partition-order-free) and COUNTS; the
    new centroid re-enters the grid via one exact rational rounding
    ``floor((2*s + n) / (2*n))`` on the driver.
  * ties in the argmin break to the LOWEST cluster index (first
    occurrence), also exactly.

Spark shapes (assignment is SHUFFLE-FREE — no join, no groupBy):

  * per-row assignment is an Arrow-batched ``pandas_udf`` whose body
    is one int64 numpy matmul per batch (``scores = |C|^2 - 2 Q C^T``,
    argmin axis=1 — np.argmin takes the first occurrence, matching the
    tie-break). int64 numpy arithmetic is exact under the documented
    overflow bounds and per-row, so Arrow batch boundaries cannot
    change a result — the determinism claim survives.
  * one Lloyd iteration = one job: scan the (localCheckpointed once)
    quantized relation → per-row argmin map → ``posexplode`` →
    partial-aggregated ``groupBy(cluster, dim)`` whose shuffle volume
    is k*d rows per upstream partition, NOT the corpus → a bounded
    k*d-row collect. Driver state is k*d ints per round.
  * convergence = quantized centroids reached a fixed point (then the
    assignment, a deterministic function of the centroids, is fixed
    too). ``max_iter`` bounds pathological limit cycles that grid
    rounding can admit; ``converged`` reports which exit was taken.

Init follows the repo's portable-hash sample convention
(operators/similarity.py PORTABLE_A/B/M): the k corpus rows minimizing
``(A*id + B) % M`` — a global TakeOrdered (bounded per-partition
heaps), deterministic and RNG-free.

Overflow bounds (documented, not checked per-row): with ``b =
scale_bits`` and ``m = max |v_j|``, |q_j| <= m*2^b + 1; a dot product
over d dims needs ``d * (m*2^b)^2 < 2^63`` — defaults (b=20, d=64,
unit-ish embeddings m<=2) use < 2^49. Cluster component sums need
``n_cluster * m * 2^b < 2^63`` → fine below ~2^41 rows per cluster at
the defaults; raise/lower SCALE_BITS to trade precision for
headroom.

Scale: assignment is embarrassingly parallel over the corpus and the
per-iteration shuffle is O(k*d*partitions) partial rows — at 100 TB
the cost is max_iter corpus scans, the known Lloyd profile; cache or
localCheckpoint the quantized relation once (``kmeans_fit`` does) so
upstream ETL never re-runs per iteration.

Reference parity: the reference (task.ts) has no clustering; this is
part of the training-data-pipeline surface (SemDeDup-style semantic
dedup and corpus mixture analysis need a trained clustering; the
portable fixed quantizer in ``semantic_dedup_cells`` is the untrained
stand-in).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_inreach_spark.operators.similarity import (
    PORTABLE_A,
    PORTABLE_B,
    PORTABLE_M,
)


@dataclass(frozen=True)
class KMeansModel:
    """Trained integer-grid k-means model.

    qcentroids[c][j] is the quantized j-th component of centroid c
    (0-indexed clusters); ``sizes[c]`` the assignment counts of the
    last completed Lloyd iteration (equal to the final-centroid
    assignment counts whenever ``converged``); ``converged`` True iff
    the quantized centroids reached a fixed point before ``max_iter``.
    """

    qcentroids: tuple[tuple[int, ...], ...]
    scale_bits: int
    n_iter: int
    converged: bool
    sizes: tuple[int, ...]

    @property
    def k(self) -> int:
        return len(self.qcentroids)

    def centroids_float(self) -> list[list[float]]:
        """Dequantized float centroids for downstream float consumers
        (e.g. seeding an IVF coarse quantizer)."""
        s = float(1 << self.scale_bits)
        return [[c / s for c in row] for row in self.qcentroids]


def quantize_vectors(df: DataFrame, scale_bits: int = 20) -> Column:
    """array<bigint> column: round-half-up fixed-point quantization of
    the ``embedding`` column. floor(x*2^b + 0.5) is exact float64 for the domains
    documented in the module header; identical in numpy
    (np.floor(x*s + 0.5)) for the replica tests."""
    s = float(1 << scale_bits)
    return F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(s) + F.lit(0.5)).cast("bigint"),
    )


def _assign_arrow(
    qvec: Column, qcentroids: tuple[tuple[int, ...], ...]
) -> Column:
    """Vectorized assignment: an Arrow-batched pandas_udf computing
    the 0-indexed integer argmin cluster, scores[c] = |c|^2 - 2<q,c>
    (the |q|^2 term is per-row constant), via one int64 numpy matmul
    per batch (np.argmin axis=1 = first-occurrence tie-break). Exact
    under the module's overflow bounds; per-row, so Arrow batch
    boundaries cannot change a result."""
    cents = np.asarray([list(row) for row in qcentroids], dtype=np.int64)
    csq = (cents * cents).sum(axis=1, dtype=np.int64)

    # modern typed-hint form (ADVICE r11: one convention repo-wide;
    # pd is importable at hint-resolution time because the stringized
    # `pd.Series` hints are evaluated against module globals)
    @F.pandas_udf("int")
    def _argmin(batch: pd.Series) -> pd.Series:
        if batch.empty:
            return pd.Series([], dtype="int32")
        q = np.vstack(batch.to_numpy()).astype(np.int64, copy=False)
        scores = csq[None, :] - 2 * (q @ cents.T)
        return pd.Series(np.argmin(scores, axis=1).astype(np.int32))

    return _argmin(qvec)


def _round_div_half_up(s: int, n: int) -> int:
    """Exact rational rounding of s/n to the integer grid: floor((2s +
    n)/(2n)) with Python floor division (floors toward -inf for
    negative sums — one documented convention, replicated verbatim by
    the test oracle)."""
    return (2 * s + n) // (2 * n)


def _init_centroids(qdf: DataFrame, k: int) -> tuple[tuple[int, ...], ...]:
    """The k corpus rows minimizing the portable hash of their vec_id —
    global TakeOrdered (bounded heaps), deterministic, RNG-free."""
    h = (F.lit(PORTABLE_A) * F.col("vec_id") + F.lit(PORTABLE_B)) % F.lit(PORTABLE_M)
    picked = (
        qdf.select(F.col("vec_id"), F.col("_qvec"), h.alias("_h"))
        .orderBy("_h", "vec_id")
        .limit(k)
        .collect()
    )
    if len(picked) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(picked)}")
    return tuple(tuple(int(x) for x in r["_qvec"]) for r in picked)


# kmeans_fit's fixed-point grid: vectors are quantized to multiples of 2^-20.
SCALE_BITS = 20


def kmeans_fit(
    df: DataFrame,
    k: int,
    max_iter: int = 25,
) -> KMeansModel:
    """Train the deterministic integer-grid k-means model over
    (vec_id, embedding) rows on the 2^SCALE_BITS grid. One job per
    Lloyd iteration; the quantized relation is localCheckpointed once
    so upstream ETL runs exactly once regardless of max_iter."""
    # LAZY (r11): the init-centroid collect right below is the
    # first action and materializes the quantized relation in the
    # same job (2 jobs -> 1)
    qdf = df.select(
        F.col("vec_id"), quantize_vectors(df, SCALE_BITS).alias("_qvec")
    ).localCheckpoint(eager=False)
    cents = _init_centroids(qdf, k)
    n_iter = 0
    converged = False
    sizes = [0] * k
    while n_iter < max_iter:
        n_iter += 1
        stats = (
            qdf.select(
                _assign_arrow(F.col("_qvec"), cents).alias("_c"),
                F.posexplode("_qvec").alias("_dim", "_x"),
            )
            .groupBy("_c", "_dim")
            .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        sums: dict[int, dict[int, int]] = {}
        counts = [0] * k
        for r in stats:
            sums.setdefault(r["_c"], {})[r["_dim"]] = r["_s"]
            counts[r["_c"]] = r["_n"]
        new = tuple(
            tuple(
                _round_div_half_up(sums[c][j], counts[c])
                for j in range(len(cents[c]))
            )
            if counts[c]
            else cents[c]  # empty cluster keeps its previous centroid
            for c in range(k)
        )
        sizes = counts
        if new == cents:
            converged = True
            break
        cents = new
    return KMeansModel(
        qcentroids=cents,
        scale_bits=SCALE_BITS,
        n_iter=n_iter,
        converged=converged,
        sizes=tuple(sizes),
    )


def kmeans_assign(
    df: DataFrame,
    model: KMeansModel,
) -> DataFrame:
    """(vec_id, cluster): shuffle-free nearest-centroid assignment
    under the model — the same integer argmin the trainer used, so
    fit-time and serve-time assignments can never disagree."""
    qvec = quantize_vectors(df, model.scale_bits)
    return df.select(
        F.col("vec_id"), _assign_arrow(qvec, model.qcentroids).alias("cluster")
    )

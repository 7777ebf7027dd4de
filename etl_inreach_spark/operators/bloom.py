"""Portable Bloom-filter semi-join pruning — the runtime-filter
pattern for very large fact-to-selective-dim joins.

At 100 TB the dominant cost of ``fact JOIN dim`` with a selective dim
predicate is shuffling fact rows that can never match. Spark's own
injected runtime filters (``spark.sql.optimizer.runtime.bloomFilter``)
solve this when the optimizer chooses to; this module is the same idea
as an EXPLICIT, engine-portable operator, so a pipeline can pin the
reduction (and an oracle can verify it) instead of hoping for plan
luck:

  1. ``bloom_words``: aggregate the dim keys into an m-bit filter
     materialized as an (m/64)-row (word, bits) relation — a groupBy
     ``bit_or`` over k exploded bit positions per key. The relation is
     tiny by construction (m = 2^17 bits -> 2048 rows) regardless of
     dim cardinality.
  2. ``bloom_prune``: broadcast-join that word relation onto the fact
     k times (one equi-join per hash function, all map-side) and keep
     rows whose k probed bits are all set.

No false negatives by construction, so ``prune -> exact join`` equals
the plain join row-for-row — which is exactly how the oracle-gated
query value-checks it. False positives only cost shuffle volume, and
the k probes cost k broadcast hash lookups per fact row, no shuffle.

Hashing is the Carter-Wegman mod-(2^31-1) family (same constants
discipline as operators/text_dedup): key folded into [0, p), two
affine hashes h1, h2, then Kirsch-Mitzenmacher double hashing
pos_i = (h1 + i * (1 + h2 mod (m-1))) mod m. Every product stays
under 2^62, so ANSI-mode bigint arithmetic cannot overflow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE31 = (1 << 31) - 1
# fixed odd multipliers < 2^31 (from the repo-wide seeded-constant
# discipline; any a in [1, p) works)
_A1, _B1 = 1_103_515_245, 12_345
_A2, _B2 = 69_069, 362_437


def _fold(key: Column) -> Column:
    return F.pmod(key.cast("bigint"), F.lit(MERSENNE31))


def _positions(key: Column, m_bits: int, k_hashes: int) -> list[Column]:
    x = _fold(key)
    h1 = F.pmod(x * _A1 + _B1, F.lit(MERSENNE31))
    h2 = F.pmod(x * _A2 + _B2, F.lit(MERSENNE31))
    step = F.lit(1) + F.pmod(h2, F.lit(m_bits - 1))
    return [
        F.pmod(h1 + F.lit(i) * step, F.lit(m_bits)) for i in range(k_hashes)
    ]


def bloom_words(keys: DataFrame, m_bits: int = 1 << 17, k_hashes: int = 5) -> DataFrame:
    """(word: bigint, bits: bigint) Bloom filter over the customer keys
    ``keys.c_custkey``.

    One narrow pass over the (deduplicated) key relation: explode the
    k bit positions, map each to (word = pos div 64, 1 << (pos mod 64)),
    and ``bit_or``-aggregate per word — partial aggregation collapses
    the relation to <= m/64 rows map-side, so the shuffle is bounded by
    the filter size, not the key count."""
    pos = keys.select(
        F.explode(F.array(*_positions(F.col("c_custkey"), m_bits, k_hashes))).alias(
            "_pos"
        )
    )
    out = (
        pos.select(
            (F.col("_pos") / 64).cast("bigint").alias("word"),
            # python shiftleft() takes only a LITERAL bit count; the SQL
            # function accepts a column expression
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias(
                "_bit"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("_bit").alias("bits"))
    )
    # Carry the filter geometry WITH the relation (schema metadata, no
    # extra job): bloom_prune probes positions on the same (m, k) grid
    # the words were built on; a mismatch would silently drop true
    # members (missing words coalesce to 0), so prune validates this.
    return out.select(
        F.col("word").alias(
            "word", metadata={"m_bits": m_bits, "k_hashes": k_hashes}
        ),
        "bits",
    )


def bloom_prune(
    fact: DataFrame,
    words: DataFrame,
    m_bits: int = 1 << 17,
    k_hashes: int = 5,
) -> DataFrame:
    """Rows of ``fact`` whose order customer key ``o_custkey`` MAY be
    in the filter (no false
    negatives; false-positive rate ~ (1 - e^{-kn/m})^k).

    k broadcast left joins on the word id — all map-side, no shuffle of
    the fact — then a conjunction of bit tests. A missing word row
    means no key ever touched that word: coalesce to 0 and fail.

    NULL keys PASS THROUGH untouched: the operator's contract is
    "remove only rows that provably cannot equi-match a filter key",
    and whether a NULL-key row survives is the downstream join's
    business (an inner equi-join drops it, an outer join must keep
    it). Callers pruning ahead of an inner join may pre-filter NULLs
    themselves.

    If ``words`` came from :func:`bloom_words`, its schema carries the
    (m_bits, k_hashes) it was built with; passing different values
    here raises ``ValueError`` instead of silently returning a filter
    with false negatives (probes on a different bit grid miss words,
    and missing words coalesce to 0 = drop)."""
    meta: dict = {}
    try:
        meta = dict(words.schema["word"].metadata or {})
    except KeyError:
        pass
    built_m, built_k = meta.get("m_bits"), meta.get("k_hashes")
    # Validate only when BOTH are present: metadata carrying one but
    # not the other (never written by bloom_words) must not TypeError
    # on int(None) before the intended ValueError can explain itself.
    if (
        built_m is not None
        and built_k is not None
        and (int(built_m), int(built_k)) != (m_bits, k_hashes)
    ):
        raise ValueError(
            f"bloom_prune called with (m_bits={m_bits}, k_hashes={k_hashes}) "
            f"but the words relation was built with (m_bits={int(built_m)}, "
            f"k_hashes={int(built_k)}): probe positions would index a "
            "different bit grid and silently drop true members"
        )
    out = fact
    probes = _positions(F.col("o_custkey"), m_bits, k_hashes)
    null_key = F.col("o_custkey").isNull()
    for i, pos in enumerate(probes):
        w = words.select(
            F.col("word").alias(f"_w{i}"), F.col("bits").alias(f"_bits{i}")
        )
        out = (
            out.withColumn(f"_pos{i}", pos)
            .join(
                F.broadcast(w),
                (F.col(f"_pos{i}") / 64).cast("bigint") == F.col(f"_w{i}"),
                "left",
            )
            .filter(
                null_key
                | (
                    F.expr(
                        f"shiftright(coalesce(_bits{i}, CAST(0 AS BIGINT)), "
                        f"CAST(_pos{i} % 64 AS INT)) & 1"
                    )
                    == 1
                )
            )
            .drop(f"_pos{i}", f"_w{i}", f"_bits{i}")
        )
    return out

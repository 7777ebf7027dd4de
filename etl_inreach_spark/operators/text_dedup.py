"""Near-duplicate detection over a text corpus: blocked exact Jaccard,
MinHash+LSH, and SimHash — the generalization ladder of the
reference's exact per-key dedup (O18, /root/reference/task.ts:151-159)
demanded by the extended surface.

Scale design (the point of each variant):
  * ``ngram_jaccard_pairs`` — EXACT pairs at j >= t without an O(n^2)
    stage: PPJoin prefix + positional filtering. Under a global
    shingle order (rarest first), any pair with Jaccard >= t must
    share a shingle within each side's first ``n - ceil(t*n) + 1``
    shingles, and the match position bounds the achievable overlap —
    both filters are lossless, so the candidate join touches only the
    rare prefixes, never all pairs.
  * ``minhash_lsh_pairs`` — the 100 TB path. Each doc reduces to a
    k-value signature, bands of the signature become bucket keys, and
    the only wide-ish shuffle is the initial shingle explode (linear in
    corpus size). Cost ~ O(n * k) + O(candidate pairs).
  * ``simhash_pairs`` — constant-size 60-bit sketch; near-dup =
    small Hamming distance; banding the 60 bits into 4x15 gives exact
    recall for distance <= 3 by pigeonhole (any 3 flipped bits leave
    one band untouched), and the verify step prunes false positives.

Execution discipline (why this file looks the way it does):
  * Shingles travel as 8-byte 60-bit portable-hash values, never
    strings — every join/shuffle key is a bigint. (Collision risk:
    ~(u^2/2)/2^60 for u distinct shingles — negligible against the
    oracle gate.) The hash is computed by one Arrow-batched
    pandas_udf per document batch (numpy Horner over code units), not
    per materialized gram string.
  * Higher-order functions (transform/aggregate over arrays) are
    CodegenFallback in Spark — every element evaluation walks an
    interpreted expression tree. All hot loops here are therefore
    EXPLODE + scalar expressions + partial-aggregated groupBy, which
    stay inside whole-stage codegen end to end.
  * A self-join recomputes its entire input subtree once per side, so
    LSH candidate pairs are generated by bucketing
    (groupBy(band).collect_list) and expanding in-bucket combinations
    — the signature pipeline runs exactly once.
  * Exact-Jaccard verification COUNTS intersections with an equi-join
    on (doc, shingle_hash) restricted to candidate docs — no arrays
    are ever shuffled or compared pairwise.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Carter-Wegman universal hashing mod the Mersenne prime 2^31-1: with
# h, a < 2^31 the product a*h < 2^62 never overflows int64 (ANSI-safe)
# yet wraps the modulus ~2^31 times, so each (a, b) pair is a genuinely
# independent permutation-like hash. (A 2^61-1 modulus would NOT wrap —
# a*h < 2^61 keeps the map order-preserving and every "independent" min
# would pick the same shingle.)
MERSENNE31 = (1 << 31) - 1

# Cross-engine-portable k-gram hash: unrolled Horner polynomial over
# character code points, mod 2^31-1. Unlike xxhash64 (Spark-specific),
# the SAME arithmetic is expressible in any SQL engine, which lets a
# DuckDB oracle reproduce sketch values bit-for-bit. Intermediate
# bounds: h < 2^31, h*131 + c < 2^39 — never overflows int64 (ANSI-safe).
POLY_P = 131


# Affine re-hash constants (MINSTD multiplier) for widening the 31-bit
# polynomial hash to 60 bits: h2 = (A2*h1 + B2) mod M is a bijection of
# h1, and the universal-family re-hash decorrelates its bits from h1's
# — the same trick the MinHash signature uses for its k permutations.
POLY_A2 = 48271
POLY_B2 = 11
_MASK30 = (1 << 30) - 1


def poly_gram_hash60_sql() -> str:
    """DuckDB rendering of ``shingles_exploded``'s 60-bit gram hash over
    the 9-gram column ``g``: the Horner polynomial mod MERSENNE31 gives
    h1, its affine re-hash h2, and the hash is the low 30 bits of h1
    plus the low 30 bits of h2 shifted left by 30 — the same constants,
    bit-identical values."""
    h1 = f"(CAST(ascii(substring(g, 1, 1)) AS BIGINT) % {MERSENNE31})"
    for j in range(2, 10):
        h1 = (
            f"(({h1} * {POLY_P} + CAST(ascii(substring(g, {j}, 1)) AS BIGINT))"
            f" % {MERSENNE31})"
        )
    return (
        f"((({h1}) & {_MASK30}) + "
        f"((({POLY_A2} * ({h1}) + {POLY_B2}) % {MERSENNE31}) & {_MASK30}) * {1 << 30})"
    )


def shingles_exploded(
    df: DataFrame,
    k: int,
    distinct: bool = True,
    keep_pos: bool = False,
) -> DataFrame:
    """Distinct (doc, k-gram-hash) pairs of a (doc_id, text) corpus as a
    tall narrow relation — the shared foundation of every dedup
    variant: (_id, _len, _h), one row per gram of each document with at
    least ``k`` characters.

    The gram hash is the portable 60-bit polynomial+affine hash: the
    Horner polynomial over the gram's code units mod MERSENNE31 (h1),
    widened by its MINSTD affine re-hash (h2) to the low 30 bits of h1
    plus the low 30 bits of h2 shifted left by 30. Every bit is
    reproducible in portable SQL (``poly_gram_hash60_sql``) and wide
    enough for 4x15-bit SimHash banding to stay collision-sparse.

    ``distinct=False`` skips the dedup shuffle and yields the gram
    MULTISET — correct (and cheaper) for consumers whose aggregate is
    multiset-invariant (min) or frequency-weighted (SimHash votes);
    Jaccard counting REQUIRES the default set semantics.

    ``keep_pos=True`` (multiset only) also emits the gram's 0-based
    start position ``_p`` — consumers like the chunked SimHash lane
    aggregation use it to bound per-group row counts.

    Rendering (r12, guide §2.1/§4.2): the k-gram hashes are pure
    int64 arithmetic per document, so ONE Arrow-batched pandas_udf
    emits each document's whole hash array from a narrow map — no
    per-character rows and NO shuffle at all. The previous fast path
    (itself 5.6x over the substring rendering) exploded the text into
    character codes (|corpus chars| rows) and ran the Horner chain as
    ``lead(_code, j)`` windows, which cost a full |chars|-row
    hash-partition exchange + per-doc sort — at 100 TB that shuffle,
    not the arithmetic, is the bill. The numpy replay is EXACT, not
    approximate: documents are concatenated into one UTF-16 code-unit
    array (np.frombuffer of utf-16-le — the same code units Java's
    regex split iterates, so even astral chars hash identically to
    the window path's surrogate-pair behavior), the identical Horner
    chain runs vectorized with the SAME modulo placement (every 3
    accumulate steps — integer arithmetic, so equal mod placement
    means equal values, no IEEE-order concerns), and each document
    slices its [offset, offset + len - k + 1) gram range out, which
    drops cross-boundary grams exactly like the window path's NULL
    leads. Values are bit-identical to a per-gram replay of the hash
    over code points (pinned by tests/test_training.py::TestShingleParity)."""
    if keep_pos and distinct:
        raise ValueError("keep_pos requires distinct=False (multiset output)")
    pos_cols = ("_p",) if keep_pos else ()
    t = df.select(
        F.col("doc_id").alias("_id"),
        F.col("text").alias("_t"),
        F.length(F.col("text")).alias("_len"),
    ).filter(F.length("_t") >= k)
    # distinct=True folds the (doc, hash) DISTINCT into the UDF:
    # _len is functionally dependent on _id, so the
    # relation-level distinct equals a per-document np.unique of
    # the hash array — the second shuffle (|corpus shingles| rows
    # hashed on every output column) disappears along with the
    # window exchange. Set consumers are order-insensitive by
    # construction (mins, groupBys, array_intersect).

    @F.pandas_udf("array<bigint>")
    def _gram60(texts: pd.Series) -> pd.Series:
        vals = texts.tolist()
        if not vals:
            return pd.Series([], dtype=object)
        enc = [t.encode("utf-16-le") for t in vals]
        codes = np.frombuffer(b"".join(enc), dtype="<u2").astype(np.int64)
        n = codes.shape[0]
        if n >= k:
            # Horner with a modulo every 3 chars: h < 2^31 and
            # 131^3 < 2^22 keep intermediates under 2^53 — never
            # overflows int64 (same placement as the old window
            # chain, so residues are identical).
            m = n - k + 1
            h = codes[:m].copy()
            pending = 0
            for j in range(1, k):
                h = h * POLY_P + codes[j : j + m]
                pending += 1
                if pending == 3:
                    h %= MERSENNE31
                    pending = 0
            h %= MERSENNE31
            h2 = (POLY_A2 * h + POLY_B2) % MERSENNE31
            h = (h & _MASK30) + ((h2 & _MASK30) << 30)
        else:
            h = np.empty(0, dtype=np.int64)
        out, off = [], 0
        for e in enc:
            ln = len(e) >> 1  # code units
            doc = h[off : off + ln - k + 1]
            out.append(np.unique(doc) if distinct else doc)
            off += ln
        return pd.Series(out)

    gram_col = (
        F.posexplode(_gram60(F.col("_t"))).alias("_p", "_h")
        if keep_pos
        else F.explode(_gram60(F.col("_t"))).alias("_h")
    )
    return t.select("_id", "_len", gram_col).select(
        "_id", "_len", *pos_cols, "_h"
    )


def _bucket_pairs(banded: DataFrame, item: Column) -> DataFrame:
    """Expand each bucket (grouped by ``_band``) into its ordered item
    pairs: (_a, _b) with _a < _b by the struct order of ``item`` (whose
    FIRST field must be the id). collect_list keeps buckets in memory,
    which is exactly the LSH contract: banding parameters are chosen so
    buckets stay small; a degenerate all-identical corpus degrades to
    the true duplicate-pair output, which is quadratic in any design."""
    buckets = (
        banded.groupBy("_band")
        .agg(F.collect_list(item).alias("_items"))
        .filter(F.size("_items") > 1)
    )
    items = F.array_sort(F.col("_items"))
    pairs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return buckets.select(F.explode(pairs).alias("_p")).select(
        F.col("_p.a").alias("_a"), F.col("_p.b").alias("_b")
    )


def _verify_pairs(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs by intersection
    COUNTING: join the tall (doc, shingle_hash) relation to itself
    through the candidates and count matches — no arrays shuffled,
    no array compares. Pairs sharing zero shingles drop out of the
    inner join, which is correct (their Jaccard is 0 < threshold).

    Shape: one row per DOC (gram array) and one row per PAIR — never
    |pair| x |grams-per-doc| rows. The naive rendering (join the tall
    relation through the candidates, groupBy pair) materializes that
    product — ~170M intermediate rows for 57k loose candidates on the
    degenerate test corpus — and the product's join+groupBy dominated
    the whole query. Here the tall relation is reduced ONCE to
    per-doc arrays (map-side-combined groupBy, |docs| rows), each
    candidate pair picks up exactly two arrays (AQE
    broadcasts/shuffles by actual size), and the intersection is one
    vectorized array_intersect per pair. Arrays never ride through a
    pair-MULTIPLYING join — each pair is one row, so the shuffled
    bytes are bounded by |cand| x 2 array sizes."""
    sh = sh.select("_id", "_h")
    grams = sh.groupBy("_id").agg(
        F.collect_list("_h").alias("_g"), F.count(F.lit(1)).alias("_n")
    )
    ga = grams.select(
        F.col("_id").alias("id_a"), F.col("_g").alias("_ga"), F.col("_n").alias("_na")
    )
    gb = grams.select(
        F.col("_id").alias("id_b"), F.col("_g").alias("_gb"), F.col("_n").alias("_nb")
    )
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_ga", "_gb")))
        .select(
            "id_a",
            "id_b",
            (
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    length_block: int | None = None,
    shingle_k: int = 5,
) -> DataFrame:
    """Exact shingle-Jaccard pairs (id_a < id_b, jaccard >= threshold)
    of a (doc_id, text) corpus, optionally restricted to
    |len_a - len_b| <= ``length_block``.

    The (doc, shingle-hash) relation is localCheckpointed: THREE
    consumers read it (document frequency, the ranked prefix join,
    exact-Jaccard verification), and without a barrier each re-runs
    the full char-explode + window Horner subtree — measured 3.8 ->
    2.5 s at sf0.1. The trade is one O(|corpus shingles|)
    executor-storage write for two recomputes; at cluster scale the
    same barrier should be persist(MEMORY_AND_DISK) or a reliable
    checkpoint if executor loss matters (measured here:
    localCheckpoint beats persist+count 2.2 s vs 3.7 s because it
    stores partitions inside the job that first computes them).

    Candidate generation is PPJoin-style (Chaudhuri et al., "A
    Primitive Operator for Similarity Joins"; Xiao et al., "Efficient
    Similarity Joins for Near Duplicate Detection"):

    * prefix filter — shingles get a global rarest-first order
      (document frequency, then hash); each doc exposes only its first
      ``n - ceil(t*n) + 1`` shingles; two docs with Jaccard >= t MUST
      share an exposed shingle.
    * positional filter — a match at (1-based) rank r_a in A and r_b
      in B bounds the overlap by 1 + min(n_a - r_a, n_b - r_b), which
      must reach ceil(t/(1+t) * (n_a + n_b)). The first common prefix
      shingle carries the loosest bound, so keeping pairs where ANY
      matched row passes is lossless.

    Both filters are exact-recall; all join keys are 8-byte hashes.
    """
    # LAZY (r11): the first consuming stage materializes the shingle
    # pass; concurrent consumers dedupe via block locks.
    sh = shingles_exploded(df, shingle_k).localCheckpoint(eager=False)
    per_doc = Window.partitionBy("_id")
    # document frequency via groupBy + join-back, NOT a window over _h:
    # the gram-frequency distribution is heavy-tailed, so a window
    # partitioned by _h buffers and single-threads the hottest grams
    # (measured 4x slower end-to-end at sf0.1), while groupBy gets
    # map-side partial aggregation and the join shuffles both sides by
    # the same 8-byte key. Per-_id windows below are fine: doc-sized
    # partitions are bounded and balanced.
    freq = sh.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        sh.join(freq, "_h")
        .withColumn("_n", F.count(F.lit(1)).over(per_doc))
        .withColumn("_rn", F.row_number().over(per_doc.orderBy("_df", "_h")))
    )
    prefix_len = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    pre = ranked.filter(F.col("_rn") <= prefix_len).select(
        "_h", "_id", "_len", "_n", "_rn"
    )

    a, b = pre.alias("a"), pre.alias("b")
    # epsilon before ceil: float(t/(1+t)) can exceed the exact rational
    # (e.g. 0.8/1.8 > 4/9), and ceil of the inflated product would
    # over-tighten the bound by 1 and prune true pairs at exactly j==t.
    # Loosening by 1e-9 only ever ADMITS candidates — recall stays exact.
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a._n") + F.col("b._n"))
        - F.lit(1e-9)
    )
    overlap_bound = F.lit(1) + F.least(
        F.col("a._n") - F.col("a._rn"), F.col("b._n") - F.col("b._rn")
    )
    # size-ratio filter (also exact-recall): j >= t forces
    # min(n_a, n_b) >= t * max(n_a, n_b); same 1e-9 loosening so the
    # float product can only ADMIT borderline sizes, never prune them
    size_ok = F.least(F.col("a._n"), F.col("b._n")) >= (
        F.lit(threshold) * F.greatest(F.col("a._n"), F.col("b._n")) - F.lit(1e-9)
    )
    cond = (
        (F.col("a._h") == F.col("b._h"))
        & (F.col("a._id") < F.col("b._id"))
        & (overlap_bound >= min_overlap)
        & size_ok
    )
    if length_block is not None:
        cond = cond & (F.abs(F.col("a._len") - F.col("b._len")) <= length_block)
    cand = (
        a.join(b, cond)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs(cand, sh, threshold)


def _minhash_coeffs() -> list[tuple[int, int]]:
    """MINHASH_HASHES deterministic universal-hash coefficients (a, b)
    in [1, p) x [0, p) for the mod-(2^31-1) Carter-Wegman family."""
    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(MINHASH_HASHES)
    ]


# MinHash signature width and LSH band count (4 rows per band).
MINHASH_HASHES = 64
MINHASH_BANDS = 16


def banded_minhash(sh: DataFrame) -> DataFrame:
    """(_id, _sig array<bigint>, _band struct<band_id, band_hash>)
    from the exploded-shingle relation: the MINHASH_HASHES-lane min
    aggregate over
    Carter-Wegman re-hashes of the portable shingle hash, banded for
    LSH. Shared by the one-shot pair finder (minhash_lsh_pairs) and
    the incremental corpus dedup (operators/incremental_dedup), so
    both produce bit-identical signatures for the same text — the
    property that lets a batch be compared against signatures
    persisted by earlier batches."""
    rows = MINHASH_HASHES // MINHASH_BANDS
    h = sh.select("_id", F.pmod(F.col("_h"), F.lit(MERSENNE31)).alias("_hp"))
    sig = h.groupBy("_id").agg(
        *[
            F.min((F.lit(a) * F.col("_hp") + F.lit(b)) % F.lit(MERSENNE31)).alias(
                f"_m{i}"
            )
            for i, (a, b) in enumerate(_minhash_coeffs())
        ]
    )
    return sig.select(
        "_id",
        F.array(*[F.col(f"_m{i}") for i in range(MINHASH_HASHES)]).alias("_sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.xxhash64(
                            *[F.col(f"_m{bi * rows + r}") for r in range(rows)]
                        ).alias("band_hash"),
                    )
                    for bi in range(MINHASH_BANDS)
                ]
            )
        ).alias("_band"),
    )


# minhash_lsh_pairs' Jaccard threshold.
MINHASH_THRESHOLD = 0.8


def minhash_lsh_pairs(df: DataFrame, shingle_k: int = 5) -> DataFrame:
    """MinHash + LSH banding + exact-Jaccard verification over a
    (doc_id, text) corpus.

    With k=64, b=16 (r=4): P(candidate | j) = 1-(1-j^4)^16 — ~1.0 at
    j=0.9 (miss probability ~4e-8), ~0.12 at j=0.3, so candidates are
    few and verification exact. Returns (id_a, id_b, jaccard >=
    MINHASH_THRESHOLD), same contract as ngram_jaccard_pairs but
    probabilistic recall.

    The signature is k simultaneous MIN aggregates over per-shingle
    affine re-hashes of ONE portable 60-bit hash per shingle — scalar
    codegen with map-side partial aggregation; duplicates need no
    pre-distinct because min over a multiset equals min over its set.

    Between banding and exact verification sits a signature-agreement
    pre-filter: the fraction of equal signature slots is an unbiased
    estimate of Jaccard, so candidates estimated far below threshold
    (< MINHASH_THRESHOLD/2) are dropped before any shingle is touched. This
    makes the operator robust to corpora whose background similarity
    sits near the band-collision knee — false candidates cost 64
    integer compares, not an intersection count.
    """
    # two consumers (signature build + exact verify) — same
    # recompute-vs-store trade as ngram_jaccard_pairs; LAZY (r11) so the
    # signature stage materializes it (no separate job)
    sh = shingles_exploded(df, shingle_k).localCheckpoint(eager=False)
    banded = banded_minhash(sh)
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("_a._sig"), F.col("_b._sig"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / MINHASH_HASHES
    )
    cand = (
        _bucket_pairs(banded, F.struct(F.col("_id"), F.col("_sig")))
        .filter(est >= MINHASH_THRESHOLD / 2)
        .select(F.col("_a._id").alias("id_a"), F.col("_b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])  # a pair may collide in many bands
    )
    return _verify_pairs(cand, sh, MINHASH_THRESHOLD)


def simhash_sketch(sh: DataFrame) -> DataFrame:
    """(_id, _sim): SIMHASH_BITS-bit SimHash per doc from the exploded
    (doc, gram position, shingle_hash) multiset relation
    (``shingles_exploded(..., distinct=False, keep_pos=True)``);
    SIMHASH_BITS is a multiple of 4. bit b = 1 iff more shingle hashes
    have bit b set than unset.

    Bit counting is LANE-PACKED: instead of SIMHASH_BITS conditional
    sums, bits {b, b+W, b+2W, b+3W} (W = SIMHASH_BITS/4) are
    accumulated in four W-bit lanes of ONE int64 sum — ``(h >>> b) & m``
    with m selecting every W-th bit — so the per-shingle work under the
    map-side-combined groupBy is SIMHASH_BITS/4 shift+AND+adds (4x fewer
    agg buffers and row ops; measured ~2x end-to-end on the 60-bit
    sketch).

    A lane carries into its neighbor once a per-doc per-bit count
    reaches 2^W (32768 at W=15) — i.e. any document with >= 2^W
    shingles of one bit value, which web/book-scale or boilerplate-
    heavy text genuinely reaches (~64 KB of repetitive content). The
    gram position ``_p`` makes that IMPOSSIBLE rather than unlikely:
    lanes aggregate per (doc, chunk) with chunk = _p >> (W-1), so no
    group exceeds 2^(W-1) rows; the unpacked per-bit counts are then
    summed per doc in a SECOND tiny aggregation (|docs| x
    ceil(shingles/2^(W-1)) rows). The heavy first level keeps full
    lane-packed speed and shuffles the same volume (key is (doc,
    chunk) instead of doc); overflow would now need a single
    2^63-shingle document.

    Post-aggregation, counts are majority-voted into the sketch on
    |docs| rows — negligible."""
    bits = SIMHASH_BITS
    width = bits // 4
    lane_mask = sum(1 << (width * j) for j in range(4))
    part = (
        sh.select("_id", F.shiftright(F.col("_p"), width - 1).alias("_chunk"), "_h")
        .groupBy("_id", "_chunk")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            *[
                F.sum(
                    F.shiftrightunsigned("_h", b).bitwiseAND(F.lit(lane_mask))
                ).alias(f"_s{b}")
                for b in range(width)
            ],
        )
    )

    def unpack(i: int) -> Column:
        b, j = i % width, i // width
        return F.shiftrightunsigned(F.col(f"_s{b}"), width * j).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    counts = part.groupBy("_id").agg(
        F.sum("_cnt").alias("_cnt"),
        *[F.sum(unpack(i)).alias(f"_c{i}") for i in range(bits)],
    )

    # bit 63 is the sign bit of int64: its weight is -(2^63)
    sim = F.lit(0).cast("bigint")
    for i in range(bits):
        weight = (1 << i) if i < 63 else -(1 << 63)
        sim = sim + F.when(
            F.col(f"_c{i}") * 2 > F.col("_cnt"), F.lit(weight).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return counts.select("_id", sim.alias("_sim"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# simhash_pairs' sketch width (the gram hash's 60 bits) and band count;
# pairs within Hamming SIMHASH_BANDS - 1 are kept.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4


def simhash_pairs(df: DataFrame) -> DataFrame:
    """SimHash near-dup pairs of a (doc_id, text) corpus over its
    character 9-grams (Hamming distance <= SIMHASH_BANDS - 1 = 3) with
    banded blocking: SIMHASH_BANDS bands of SIMHASH_BITS //
    SIMHASH_BANDS = 15 bits; by pigeonhole any pair within Hamming
    distance SIMHASH_BANDS - 1 shares at least one exact band, so the
    blocked join loses nothing; the Hamming filter then prunes
    collisions. The sketch replaces the
    document entirely — every post-sketch row is ~24 bytes.

    Votes are FREQUENCY-WEIGHTED (gram multiset, the classic Charikar
    weighting): this skips the set-dedup shuffle entirely — the only
    wide operation left is the map-side-combined sketch groupBy.

    The sketch is as wide as the portable 60-bit gram hash of
    ``shingles_exploded``, so the whole pipeline is reproducible in
    portable SQL (DuckDB-oracle-able)."""
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    sk = simhash_sketch(
        shingles_exploded(
            df,
            9,
            distinct=False,
            # positions feed the chunked lane aggregation, making the
            # sketch overflow-proof for arbitrarily long documents
            keep_pos=True,
        )
    )
    banded = sk.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright(F.col("_sim"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("_band"),
    )
    return (
        _bucket_pairs(banded, F.struct(F.col("_id"), F.col("_sim")))
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_b._id").alias("id_b"),
            hamming64(F.col("_a._sim"), F.col("_b._sim")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= SIMHASH_BANDS - 1)
    )


def duplicated_spans(df: DataFrame, k: int = 8, min_count: int = 2) -> DataFrame:
    """Maximal duplicated token spans (suffix-array-style substring
    dedup, approximated at k-token granularity): every maximal
    contiguous run of whitespace tokens in which every TOKEN is
    covered by some k-token window that occurs elsewhere in the
    corpus (>= ``min_count`` total occurrences, within-document
    repeats included) — the Lee-et-al span-removal COVERAGE semantic.
    (Not: "every k-window in the span is duplicated" — merging
    duplicated windows at gap <= k can put a non-duplicated interior
    window inside a merged span while leaving no token uncovered;
    implementation, oracle and test replica all share the coverage
    semantic.) This is the span-removal
    primitive of exact-substring training-data dedup — the reference's
    per-key latest-wins dedup (task.ts:151-159) collapses whole rows;
    this collapses repeated REGIONS inside documents.

    Plan (three shuffles, all key-bounded):
      1. tokenize + explode k-gram start positions (narrow; the gram
         string is assembled once per position with slice+array_join);
      2. one window COUNT over the gram — a single hash-partitioned
         exchange keyed by gram, no join-back pass;
      3. per-document gaps-and-islands: positions sorted within the
         doc-sized partition, a break wherever the previous duplicated
         window cannot touch this one (gap > k), running-sum island
         ids, then min/max per island. Spans of identical k merge on
         plain lag() because same-length intervals sorted by start
         have monotone ends.

    100 TB notes: the gram-keyed exchange is the cost driver; swap the
    gram STRING for xxhash64(gram) to cut shuffle bytes ~5x (collision
    risk ~n^2/2^64 — acceptable for dedup, kept exact here because the
    DuckDB oracle must replay the key verbatim). Doc-sized island
    partitions are bounded by document length, never corpus size, so
    stage 3 cannot skew.

    Input (doc_id, text); returns (doc_id, span_start, span_end, span_tokens) — token
    indices, 0-based, end-inclusive; all BIGINT.
    """
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    base = df.select(F.col("doc_id").alias("_id"), toks.alias("_t")).where(
        F.size("_t") >= k
    )
    grams = base.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - k),
                lambda i: F.array_join(F.slice("_t", i + F.lit(1), F.lit(k)), " "),
            )
        ).alias("_pos", "_gram"),
    )
    dup = (
        grams.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("_gram"))
        )
        .where(F.col("_n") >= min_count)
        .select("_id", "_pos")
    )
    wd = Window.partitionBy("_id").orderBy("_pos")
    lag = F.lag("_pos").over(wd)
    islands = dup.withColumn(
        "_brk",
        F.when(lag.isNull() | (F.col("_pos") - lag > k), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn("_island", F.sum("_brk").over(wd))
    return islands.groupBy("_id", "_island").agg(
        F.min("_pos").cast("bigint").alias("span_start"),
        (F.max("_pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
        (F.max("_pos") + F.lit(k) - F.min("_pos")).cast("bigint").alias(
            "span_tokens"
        ),
    ).select(F.col("_id").alias("doc_id"), "span_start", "span_end", "span_tokens")

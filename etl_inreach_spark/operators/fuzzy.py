"""Fuzzy (edit-distance) self-join via deletion neighborhoods — the
FastSS blocking scheme rendered as DataFrame ops.

Record linkage / typo-dedup needs "pairs of strings within edit
distance k", and the naive rendering is an O(n^2) theta join that no
engine survives at corpus scale. The FastSS observation: two strings
u, v with levenshtein(u, v) = d ALWAYS share an element of their
depth-d deletion neighborhoods D_d(s) = {s with <= d chars deleted}:
align u and v under an optimal d-op edit script and keep the matched
positions — that common subsequence is reachable from u by deleting
its substituted+deleted characters (<= d of them) and from v by
deleting its substituted+inserted characters (<= d). Since
D_d(s) ⊆ D_k(s) for d <= k, an EQUI-join on depth-k deletion-variant
keys has NO false negatives for distance <= k — the same narrow-key
bucketing discipline as the shingle/LSH dedup family:

  1. explode each string into its D_k variants, keyed by xxhash64
     (8-byte shuffle key, never the variant text itself);
  2. self-join on the key, id_a < id_b, distinct pairs (a pair can
     share several variants — and hash collisions may surface false
     candidates, which is fine because of step 3);
  3. verify candidates with the exact ``levenshtein`` (built-in,
     identical semantics in DuckDB — the oracle is the naive
     cross-join filter at small SF). The verify uses the BANDED
     3-arg levenshtein (threshold=k): the DP early-exits once a row
     of the band exceeds k, so a false candidate costs O(k*|s|),
     not O(|s|^2).

Cost: sum of per-variant-bucket |b|^2 — buckets are strings agreeing
on a common subsequence, tiny for natural keys. Blow-up guard: the
explode replicates each row |D_k(s)| times — |s|+1 at k=1 but
1 + |s| + |s|(|s|-1)/2 (quadratic) at k=2, which is the documented
reason this operator is for bounded-length KEY columns (names,
callsigns, SKUs), not document text; ``max_len`` turns that contract
into a runtime raise instead of a silent quadratic explode.

Skew guard (VERDICT r9 item 3): a mass-duplicated name puts ALL its
copies into the same variant buckets, and each bucket's |b|^2
candidate expansion lands in ONE join task — the same compute-dense/
byte-small straggler the semantic-dedup hot cell had (invisible to
AQE's byte-based skew detection). ``max_bucket_rows`` applies the
identical remedy, the triangular block grid
(operators/similarity.py:semantic_dedup_cells): rows of a bucket are
salted into ceil(|b|/cap) id-hash blocks and the self-join runs over
(vkey, block_i, block_j) grid cells, so per-task pairs are bounded by
cap^2 while every unordered pair still meets exactly once — output
identical by construction (tests/test_skew_cap.py). Unlike the
semantic-dedup cap there is NO driver-side sizing collect: the
variant-key domain is corpus-sized (one bucket per distinct variant,
not nlist cells), so block counts stay a DataFrame — one extra
groupBy(vkey) counting pass + a join against the (rare, by
construction) hot buckets, fully distributed at any scale. The
variant relation is localCheckpoint-ed when the cap is enabled
(VERDICT r10 item 6) so the hot-count pass and the grid join share
ONE explode instead of recomputing it on three plan branches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# The fuzzy-matched relation's id and string columns: customers by name.
ID_COL = "c_custkey"
S_COL = "c_name"


# SQL fragment: S_COL with the 1-based position in lambda variable ``i``
# deleted.
_DELETE1 = (
    f"concat(substring({S_COL}, 1, i - 1), "
    f"substring({S_COL}, i + 1, length({S_COL}) - i))"
)
# SQL fragment: S_COL with the 1-based positions in lambda variables
# ``i`` < ``j`` both deleted.
_DELETE2 = (
    f"concat(substring({S_COL}, 1, i - 1), "
    f"substring({S_COL}, i + 1, j - i - 1), "
    f"substring({S_COL}, j + 1, length({S_COL}) - j))"
)


def deletion_variants(df: DataFrame, k: int = 1) -> DataFrame:
    """(id, s, vkey): one row per depth-``k`` deletion-neighborhood
    member, keyed by xxhash64 of the variant text. ``k`` in {1, 2}:
    k=1 yields {s} U {delete one}, k=2 adds {delete two distinct
    positions} (the i<j double loop emits each position PAIR once;
    the trailing .distinct() collapses variants that coincide as
    strings, e.g. deleting either of two adjacent equal chars)."""
    if k not in (1, 2):
        raise ValueError(f"deletion_variants: k must be 1 or 2, got {k}")
    d1 = (
        f"transform(sequence(1, length({S_COL})), "
        f"i -> {_DELETE1})"
    )
    if k == 1:
        variants = F.expr(f"concat(array({S_COL}), {d1})")
    else:
        # guard i < length(s): sequence(start, stop) with start > stop
        # DESCENDS in Spark, which would emit out-of-range j positions
        # (harmless duplicates of 1-deletion variants, but noise)
        d2 = (
            f"flatten(transform(sequence(1, length({S_COL})), i -> "
            f"case when i < length({S_COL}) then "
            f"transform(sequence(i + 1, length({S_COL})), "
            f"j -> {_DELETE2}) "
            f"else array() end))"
        )
        variants = F.expr(f"concat(array({S_COL}), {d1}, {d2})")
    return (
        df.select(F.col(ID_COL), F.col(S_COL), F.explode(variants).alias("_v"))
        .select(ID_COL, S_COL, F.xxhash64("_v").alias("vkey"))
        .distinct()
    )


def editk_pairs(
    df: DataFrame,
    k: int = 1,
    max_bucket_rows: int | None = None,
    max_len: int | None = None,
) -> DataFrame:
    """(id_a, id_b, s_a, s_b, dist) for every UNORDERED pair with
    levenshtein <= ``k`` (includes exact duplicates at dist 0). Exact:
    depth-k deletion-neighborhood candidates have no false negatives
    for distance <= k (module docstring), and every candidate is
    re-verified with the banded exact levenshtein.

    ``max_bucket_rows`` bounds per-TASK candidate work when a variant
    bucket goes hot (mass-duplicated strings — see module docstring):
    the bucket self-join becomes a triangular block grid over id-hash
    blocks, per-task pairs <= cap^2, output unchanged. A BALANCED
    corpus (no bucket over the cap) runs the plain bucket join over
    the checkpointed variants — the cap then costs one counting
    reduction and nothing else (ADVICE r10); the grid/plain decision
    is frozen at call time. Size the cap so
    a hot bucket yields grid cells >> shuffle partitions — cells land
    on partitions by HASH, so balance is law-of-large-numbers (the r10
    probe measured cap=512 leaving ~10-cell birthday pileups on one
    task; 256 gives 4x the cells at a quarter the per-cell cost).

    ``max_len`` (recommended for k=2, where |D_2(s)| grows as
    |s|^2/2) RAISES at execution if any string exceeds it — the
    honest alternative to silently exploding a long-text column this
    blocking scheme was never meant for. PassJoin-style segment
    partitioning is the long-string remedy; out of scope here."""
    if k not in (1, 2):
        raise ValueError(f"editk_pairs: k must be 1 or 2, got {k}")
    if max_len is not None:
        # NULL strings pass the guard (the explode drops them later —
        # identical to the k=1/uncapped NULL behavior); without the
        # isNull arm the 3VL NULL condition would fall into the
        # otherwise-branch and raise with a NULL message
        df = df.withColumn(
            S_COL,
            F.when(
                F.col(S_COL).isNull() | (F.length(S_COL) <= max_len),
                F.col(S_COL),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"editk_pairs(k={k}): string exceeds "
                            f"max_len={max_len} chars: "
                        ),
                        F.substring(F.col(S_COL), 1, 80),
                    )
                )
            ),
        )
    v = deletion_variants(df, k)
    hot = None
    if max_bucket_rows is not None:
        # the capped plan references v on THREE branches (hot count,
        # grid side a, grid side b): checkpoint the explode once so
        # all of them read materialized partitions instead of each
        # re-running the variant expansion over the corpus (VERDICT
        # r10 item 6 — measured: 3 scans -> 1 at sf0.1). eager, same
        # as semantic_dedup_cells: deterministic one-job build, and
        # the raise_error max_len guard fires HERE, at build, rather
        # than mid-join.
        # LAZY (r11): the balanced-corpus gate probe below (isEmpty
        # over the hot relation) is the first action and materializes
        # the explode in the same job — the max_len raise_error guard
        # still fires at build, inside that probe.
        v = v.localCheckpoint(eager=False)
        # block counts stay DISTRIBUTED (no nlist-style bound on the
        # variant-key domain): count each bucket once, keep only the
        # hot ones (rare by construction — AQE broadcast-joins the
        # tiny relation back), everything else gets nb=1 and the grid
        # degenerates to the plain bucket join
        hot = (
            v.groupBy("vkey")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_rows)
            .select(
                "vkey",
                F.expr(
                    f"cast((_n + {max_bucket_rows} - 1) div "
                    f"{max_bucket_rows} as int)"
                ).alias("_nb_blk"),
            )
        )
        # balanced-corpus gate (ADVICE r10): with no hot bucket the
        # grid machinery would still pay TWO pinned full-relation
        # repartitions plus the block columns — a fixed inert-path
        # cost that matters at 100 TB. Checkpoint the (tiny, rare-by-
        # construction) hot relation so the gate probe and the grid
        # join share ONE counting pass, then mirror
        # semantic_dedup_cells: no hot bucket -> run the PLAIN bucket
        # join over the checkpointed variants. Same caveat as there:
        # the grid/plain decision is frozen at call time, not at
        # execution of the returned DataFrame.
        hot = hot.localCheckpoint(eager=False)  # LAZY (r11): isEmpty materializes it
        if hot.isEmpty():
            hot = None  # plain join below, over the checkpoint
    if hot is None:
        a = v.select(
            F.col(ID_COL).alias("id_a"), F.col(S_COL).alias("s_a"), "vkey"
        )
        b = v.select(
            F.col(ID_COL).alias("id_b"), F.col(S_COL).alias("s_b"), "vkey"
        )
        cand = (
            a.join(b, "vkey")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "s_a", "s_b")
            .distinct()
        )
    else:
        wb = (
            v.join(hot, "vkey", "left")
            .withColumn("_nb_blk", F.coalesce("_nb_blk", F.lit(1)))
            .withColumn(
                "_blk",
                F.pmod(F.xxhash64(F.col(ID_COL)), F.col("_nb_blk")).cast(
                    "int"
                ),
            )
        )
        # triangular grid: an unordered pair with blocks (kx, ky)
        # meets in exactly ONE grid cell — (min, max) off-diagonal
        # (the smaller-block row on side a), or (k, k) where the
        # _ida < _idb filter de-duplicates the two orientations —
        # identical coverage argument to semantic_dedup_cells
        a = wb.select(
            F.col(ID_COL).alias("_ida"), F.col(S_COL).alias("_sa"),
            "vkey",
            F.col("_blk").alias("_gi"),
            F.explode(
                F.sequence(F.col("_blk"), F.col("_nb_blk") - 1)
            ).alias("_gj"),
        )
        b = wb.select(
            F.col(ID_COL).alias("_idb"), F.col(S_COL).alias("_sb"),
            "vkey",
            F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_gi"),
            F.col("_blk").alias("_gj"),
        )
        # pin the grid shuffle (explicit-N repartition on the join
        # keys): grid partitions are compute-dense but byte-small, so
        # AQE's byte-based coalescing would merge them back into one
        # task and resurrect the straggler (the semantic-dedup r9
        # lesson, measured there). The pin's effect is the
        # REPARTITION_BY_NUM origin (AQE-coalesce exemption); Spark 4
        # re-targets the COUNT under the equi-join to
        # spark.sql.shuffle.partitions, so the conf is the sizing
        # lever — see incremental_semantic.py
        try:
            n_shuffle = int(
                v.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
            )
        except ValueError:
            n_shuffle = v.sparkSession.sparkContext.defaultParallelism
        a = a.repartition(n_shuffle, "vkey", "_gi", "_gj")
        b = b.repartition(n_shuffle, "vkey", "_gi", "_gj")
        raw = a.join(b, ["vkey", "_gi", "_gj"]).filter(
            (
                (F.col("_gi") < F.col("_gj"))
                & (F.col("_ida") != F.col("_idb"))
            )
            | ((F.col("_gi") == F.col("_gj")) & (F.col("_ida") < F.col("_idb")))
        )
        # canonicalize to id order: off-diagonal pairs arrive in
        # BLOCK order, which is an id hash, not the id order the
        # contract promises
        lo = F.col("_ida") < F.col("_idb")
        cand = raw.select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            F.when(lo, F.col("_sa")).otherwise(F.col("_sb")).alias("s_a"),
            F.when(lo, F.col("_sb")).otherwise(F.col("_sa")).alias("s_b"),
        ).distinct()
    # exact-duplicate fast path: levenshtein is an O(k*|s|) banded DP
    # per pair, and on a mass-duplicated name EVERY clique pair is two
    # IDENTICAL strings — the r10 probe measured the DP itself as the
    # dominant straggler cost (2M clique pairs x ~1k char-ops each in
    # one task). An equality guard makes dist-0 pairs one string
    # compare; the banded DP (threshold=k early-exit) runs only on
    # genuine near-miss candidates and returns -1 past the band,
    # which the <= k filter drops.
    dist = F.when(F.col("s_a") == F.col("s_b"), F.lit(0).cast("bigint")).otherwise(
        F.levenshtein("s_a", "s_b", k).cast("bigint")
    )
    return (
        cand.withColumn("dist", dist)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= k))
    )


def edit1_pairs(df: DataFrame, max_bucket_rows: int | None = None) -> DataFrame:
    """Edit-distance <= 1 pairs (see ``editk_pairs``)."""
    return editk_pairs(df, 1, max_bucket_rows)


def edit2_pairs(df: DataFrame, max_bucket_rows: int | None = None) -> DataFrame:
    """Edit-distance <= 2 pairs — FastSS proper (see ``editk_pairs``).
    |D_2(s)| ~ |s|^2/2 variants per string, so strings are capped at
    64 chars (``editk_pairs``' ``max_len``): this is a KEY-column
    operator (callsigns two typos apart), not a document-text one."""
    return editk_pairs(df, 2, max_bucket_rows, 64)

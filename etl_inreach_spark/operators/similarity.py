"""Similarity search over embedding columns: brute-force top-k cosine
(the exactness baseline), random-hyperplane LSH bucketing, IVF
(inverted-file) probing, and an exact all-pairs cosine join.

Scale design:
  * brute-force — broadcast the (small) query set against the corpus:
    shuffle-free, one pass over the corpus per batch of queries, then
    a per-query top-k window on a tiny intermediate. Right answer for
    "score 100 TB of corpus against K queries".
  * LSH — constant-size bucket id per vector from portable Rademacher
    hyperplanes (a JVM-side Column expression, bit-reproducible in
    DuckDB); candidates = bucket collisions (multi-probe over 1-bit
    flips); exact cosine re-rank within candidates. Turns all-pairs
    O(n*m) into per-bucket work.
  * IVF — coarse quantizer (hash-sampled centroids, or the integer
    Lloyd trainer in operators/clustering.py), corpus partitioned by
    nearest centroid, queries probe the nprobe nearest cells; exact
    re-rank inside probed cells. The standard recall/scan-fraction
    dial for clustered corpora.
  * exact pair join — block-grid GEMM: vectors bucketed into B blocks,
    every block pair (i <= j) becomes one grid cell, each cell does a
    vectorized float64 matmul. Replication factor B on one side —
    choose B ~ sqrt(parallelism). This is THE scalable exact algorithm
    for near-orthogonal data where no bucketing can separate scores.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_inreach_spark.functions.vectors import cosine, l2_norm
from etl_inreach_spark.operators.dedup import topk_by_key


# Neighbours each top-k search returns per query vector.
TOPK = 5


def brute_force_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-``TOPK`` cosine neighbors per query vector.

    Output: (q_id, vec_id, rank, cos). Self-matches (same id) are
    excluded. Deterministic: ties broken by neighbor id.
    """
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("_qvec")
    )
    scored = corpus.join(F.broadcast(q), F.col("q_id") != F.col("vec_id")).select(
        "q_id",
        "vec_id",
        cosine(F.col("_qvec"), F.col("embedding")).alias("cos"),
    )
    top = topk_by_key(
        scored, ["q_id"], [F.col("cos").desc(), F.col("vec_id").asc()], TOPK, rank_col="rank"
    )
    return top.select("q_id", "vec_id", "rank", "cos")


def _probe_buckets(bucket):
    """bucket plus all LSH_PLANES 1-bit-flip neighbors (multi-probe)."""
    return F.array(bucket, *[bucket.bitwiseXOR(F.lit(1 << i)) for i in range(LSH_PLANES)])


# Portable-hash family shared by the oracle-able ANN variants below:
# an affine hash mod the Mersenne prime 2^31-1 that both Spark and
# DuckDB compute with identical integer arithmetic. Same family as the
# KMV sketch (queries_relational) and the MinHash signatures.
PORTABLE_A = 1103515245
PORTABLE_B = 12345
PORTABLE_M = (1 << 31) - 1


def _rademacher_sign(plane: int, j: int) -> float:
    """Deterministic ±1 hyperplane entry for (plane, component j),
    j 1-based — the parity bit of the portable affine hash."""
    return 1.0 if ((PORTABLE_A * (plane * LSH_DIM + j) + PORTABLE_B) % PORTABLE_M) & 1 else -1.0


# Embedding width and hyperplane count (2^4 buckets) of the portable
# LSH signature.
LSH_DIM = 64
LSH_PLANES = 4


def portable_lsh_bucket(vec):
    """Rademacher-hyperplane LSH bucket of an ``LSH_DIM``-wide vector
    Column, bit-reproducible in portable SQL
    (``portable_lsh_bucket_sql`` renders the same computation for
    DuckDB).

    bit_p = (sum_j vec[j] * s(p, j) > 0) with s in {-1, +1} from the
    portable hash. Multiplying a double by ±1.0 is EXACT, so the only
    rounding is in the additions — and the sum is a sequential
    left-to-right fold on both engines, hence bit-identical signs.
    Rademacher projections are a standard hyperplane-LSH family
    (signs of a random ±1 matrix approximate Gaussian projections by
    CLT), so this is a real LSH, not just an oracle trick."""
    vd = F.transform(vec, lambda x: x.cast("double"))
    bucket = F.lit(0)
    for p in range(LSH_PLANES):
        signs = F.array(
            *[F.lit(_rademacher_sign(p, j)) for j in range(1, LSH_DIM + 1)]
        )
        proj = F.aggregate(
            F.zip_with(vd, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0.0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def portable_lsh_bucket_sql() -> str:
    """DuckDB rendering of ``portable_lsh_bucket`` over ``embedding`` —
    same signs, same sequential fold, bit-identical bucket ids."""
    terms = []
    for p in range(LSH_PLANES):
        sign = (
            f"(CASE WHEN (({PORTABLE_A} * ({p * LSH_DIM} + j) + {PORTABLE_B})"
            f" % {PORTABLE_M}) & 1 = 1"
            " THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"
        )
        proj = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {LSH_DIM}), "
            f"j -> CAST(embedding[j] AS DOUBLE) * {sign})), (a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {proj} > 0.0 THEN {1 << p} ELSE 0 END)")
    return "(" + "\n         + ".join(terms) + ")"


def lsh_topk_portable(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-``TOPK``: bucket join on the portable Rademacher LSH
    signature (multi-probe radius 1), exact cosine re-rank inside
    candidate buckets. Value-oracle-able: the buckets reproduce
    bit-for-bit in portable SQL. Recall < 1 by design: on
    near-orthogonal random embeddings recall ~= scan fraction, while on
    clustered corpora the true neighbors concentrate in probed buckets.

    No candidate dedup is needed: each corpus vector owns exactly ONE
    bucket and a query's probe set {b, b^1, b^2, ...} is distinct
    values, so a (query, corpus) pair matches at most once."""
    b = portable_lsh_bucket(F.col("embedding"))
    c_sig = corpus.select(F.col("vec_id"), F.col("embedding"), b.alias("bucket"))
    q_sig = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("_qvec"),
        F.explode(_probe_buckets(b)).alias("bucket"),
    )
    cand = c_sig.join(F.broadcast(q_sig), on="bucket").filter(
        F.col("q_id") != F.col("vec_id")
    )
    scored = cand.select(
        "q_id", "vec_id", cosine(F.col("_qvec"), F.col("embedding")).alias("cos")
    )
    top = topk_by_key(
        scored, ["q_id"], [F.col("cos").desc(), F.col("vec_id").asc()], TOPK, rank_col="rank"
    )
    return top.select("q_id", "vec_id", "rank", "cos")


def portable_centroids(corpus: DataFrame, nlist: int) -> DataFrame:
    """(cell, _cvec): the ``nlist`` corpus vectors minimizing the
    portable hash of their id — a deterministic, SQL-expressible
    pseudo-random sample serving as IVF coarse centroids (k-means
    sampling init without the Lloyd refinement; operators/clustering.py
    trains the refined quantizer).

    The hash sort is a global top-nlist: at scale this is a partial
    per-partition top-k + tiny driver merge (Spark's TakeOrdered),
    not a full sort."""
    h = (F.lit(PORTABLE_A) * F.col("vec_id") + F.lit(PORTABLE_B)) % F.lit(PORTABLE_M)
    picked = (
        corpus.select(
            h.alias("_h"), F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cvec")
        )
        .orderBy("_h", "_cid")
        .limit(nlist)
    )
    w = Window.orderBy("_h", "_cid")
    return picked.select(F.row_number().over(w).alias("cell"), "_cvec")


def _nearest_cells(
    df: DataFrame,
    cent: DataFrame,
    n: int,
    vec_col: str,
) -> DataFrame:
    """Rank the broadcast centroids by cosine per ``vec_id``, keep the top
    ``n`` cells (ties broken by cell asc — exact double comparison,
    identical on both engines).

    The norms are computed ONCE per vector and once per centroid
    before the cross join, not inside it (r11): cosine() per pair
    runs three interpreted 1-per-element folds (dot + both norms);
    factored out, each of the n x nlist pairs pays one fold and the
    norms are n + nlist folds total. Same doubles divided in the same
    order — bit-identical to cosine(), just not recomputed nlist
    times per vector.

    Both n == 1 (the corpus-assignment shape every Lloyd round /
    SemDeDup pass runs) and n > 1 (the IVF query-side probe, r12)
    take the ARROW fast path (guide §4.2, the
    clustering._assign_arrow discipline): centroids are an
    nlist-bounded collect (frozen at build — see the memo note
    below), and a pandas_udf computes the cosine score matrix per
    batch with numpy folds that replay the IDENTICAL IEEE op
    sequence — acc = acc + u[d]*c[d] ascending d (separately
    rounded ufuncs, no FMA), norm = sqrt(fold), score = dot /
    (vnrm * cnrm) — so every double equals the expression fold's.
    For n == 1 np.argmax's first-occurrence tie-break IS the
    cell-asc rule (centroid rows sorted by cell); for n > 1 a stable
    ascending argsort of (NaN -> -inf, -score) reproduces the
    (_cc DESC, cell ASC) window order including Spark's
    NaN-is-greatest rule. Replaces the crossJoin + window top-n (a
    full shuffle of the input) with one narrow map — measured ~4x on
    the Lloyd-round queries, bit-identical results (the Lloyd-round
    fold-replica test and the cross-engine oracles both pin it).
    The bottom window path remains for the empty-centroid edge.

    Vector contract (ADVICE r11): ``vec_col`` must be non-NULL,
    equal-length arrays with non-NULL elements — the repo-wide
    embedding-column invariant (same note on pq._l2_nearest_cells
    and the JL projection). The Arrow path's np.vstack fails the
    TASK on a violation, where the old window path would have
    NULL-propagated a score; an embedding corpus with NULL rows is
    malformed input here, not a supported edge."""
    from etl_inreach_spark.functions.vectors import dot

    # The collect FREEZES centroid values at DataFrame-build time
    # (a hidden bounded action — ADVICE r11): callers that rebuild
    # upstream data between build and execute get the values as of
    # this call, which is exactly the frozen-quantizer contract
    # every consumer (Lloyd rounds, SemDeDup, IVF build) relies
    # on. Repeat calls with the SAME centroid DataFrame object
    # (e.g. the incremental dedup's per-increment assignments
    # against one frozen quantizer) reuse the first collect via an
    # attribute memo on the object — one bounded job instead of
    # one per call; distinct DataFrame objects (every Lloyd round)
    # never share.
    crows = getattr(cent, "_sg_cos_cent_rows", None)
    if crows is None:
        crows = sorted(
            (r["cell"], list(r["_cvec"])) for r in cent.select("cell", "_cvec").collect()
        )
        cent._sg_cos_cent_rows = crows
    if crows:
        cell_type = dict(cent.dtypes)["cell"]
        np_cell = {"smallint": "int16", "int": "int32"}.get(cell_type, "int64")
        cells_arr = np.asarray([c for c, _ in crows])
        cmat = np.asarray([v for _, v in crows], dtype=np.float64)
        cnrm = np.empty(len(crows), dtype=np.float64)
        for i in range(len(crows)):
            acc = np.float64(0.0)
            for x in cmat[i]:
                acc = acc + x * x
            cnrm[i] = np.sqrt(acc)

        def _scores(batch: pd.Series) -> "np.ndarray":
            q = np.vstack(batch.to_numpy()).astype(np.float64, copy=False)
            m = q.shape[0]
            vnrm = np.zeros(m, dtype=np.float64)
            for d in range(q.shape[1]):
                col = q[:, d]
                vnrm += col * col
            np.sqrt(vnrm, out=vnrm)
            scores = np.empty((m, cmat.shape[0]), dtype=np.float64)
            for i in range(cmat.shape[0]):
                dots = np.zeros(m, dtype=np.float64)
                c = cmat[i]
                for d in range(q.shape[1]):
                    dots = dots + q[:, d] * c[d]
                scores[:, i] = dots / (vnrm * cnrm[i])
            return scores

        if n == 1:

            @F.pandas_udf(cell_type)
            def _argmax_cell(batch: pd.Series) -> pd.Series:
                if batch.empty:
                    return pd.Series([], dtype=np_cell)
                return pd.Series(
                    cells_arr[np.argmax(_scores(batch), axis=1)].astype(np_cell)
                )

            return df.select(
                F.col("vec_id"), F.col(vec_col), _argmax_cell(F.col(vec_col)).alias("cell")
            )

        # n > 1 — the IVF query-side probe (r12): the same Arrow score
        # matrix, top-n via a STABLE ascending argsort of the key
        # (NaN -> -inf, then negated score): Spark's (_cc DESC, cell
        # ASC) window ordering treats NaN as the GREATEST double (ranked
        # first under DESC), which the -inf mapping reproduces, and the
        # stable sort over cell-ascending columns IS the cell-asc
        # tie-break. Replaces the crossJoin + per-id window top-n (a
        # queries x nlist replication through a shuffle) with one
        # narrow map + explode.
        @F.pandas_udf(f"array<{cell_type}>")
        def _topn_cells(batch: pd.Series) -> pd.Series:
            if batch.empty:
                return pd.Series([], dtype=object)
            scores = _scores(batch)
            key = np.where(np.isnan(scores), -np.inf, -scores)
            idx = np.argsort(key, axis=1, kind="stable")[:, :n]
            return pd.Series([cells_arr[row].tolist() for row in idx])

        return df.select(
            F.col("vec_id"),
            F.col(vec_col),
            F.explode(_topn_cells(F.col(vec_col))).alias("cell"),
        )

    dfn = df.withColumn("_vnrm", l2_norm(F.col(vec_col)))
    centn = cent.withColumn("_cnrm", l2_norm(F.col("_cvec")))
    scored = dfn.crossJoin(F.broadcast(centn)).select(
        "vec_id",
        vec_col,
        "cell",
        (
            dot(F.col(vec_col), F.col("_cvec"))
            / (F.col("_vnrm") * F.col("_cnrm"))
        ).alias("_cc"),
    )
    return topk_by_key(
        scored, ["vec_id"], [F.col("_cc").desc(), F.col("cell").asc()], n, rank_col="_crn"
    ).select("vec_id", vec_col, "cell")


def ivf_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-``TOPK`` via IVF with the portable hash-sampled coarse
    quantizer: corpus partitioned by nearest centroid, each query scans
    only its ``nprobe`` nearest cells with exact cosine re-rank. Scan
    fraction ~ nprobe/16 on balanced cells (16 cells); probing every cell
    reproduces brute force. Fully value-oracle-able: centroid choice,
    cell assignment (argmax of the sequential-fold cosine), probing,
    and re-rank all reproduce bit-for-bit in portable SQL.

    A corpus vector owns exactly one cell and a query probes nprobe
    DISTINCT cells, so no candidate dedup is needed."""
    cent = portable_centroids(corpus, 16)
    c_cells = _nearest_cells(corpus, cent, 1, "embedding")
    q_cells = _nearest_cells(queries, cent, nprobe, "embedding").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("_qvec"), "cell"
    )
    cand = c_cells.join(F.broadcast(q_cells), on="cell").filter(
        F.col("q_id") != F.col("vec_id")
    )
    scored = cand.select(
        "q_id", "vec_id", cosine(F.col("_qvec"), F.col("embedding")).alias("cos")
    )
    top = topk_by_key(
        scored, ["q_id"], [F.col("cos").desc(), F.col("vec_id").asc()], TOPK, rank_col="rank"
    )
    return top.select("q_id", "vec_id", "rank", "cos")


# cosine_pairs_exact's block count B and cosine threshold.
PAIR_BLOCKS = 8
PAIR_MIN_COS = 0.4


def cosine_pairs_exact(df: DataFrame) -> DataFrame:
    """EXACT all-pairs cosine join: (id_a < id_b, cos >= PAIR_MIN_COS).

    Block-grid candidate generation: each vector lands in one of
    PAIR_BLOCKS hash blocks; every grid cell (i, j), i <= j, pairs
    block i against block j with one numpy float64 GEMM inside
    applyInPandas. A pair of blocks appears in exactly one cell, so no
    pair is scored twice. The GEMM keeps pairs with estimated cos >=
    PAIR_MIN_COS - 1e-6 (float64 matmul error ~1e-14, so recall is
    exact); survivors are re-scored with the sequential-fold
    ``cosine`` expression, which is bit-identical to DuckDB's
    list_cosine_similarity — the margin pre-filter never leaks into
    the output values.

    Scale: rows are replicated B = PAIR_BLOCKS times (each block meets
    every other once); per-cell work is (n/B)^2 * d flops vectorized.
    B ~ sqrt(desired parallelism) is the right size. For corpora with cluster
    structure prefer LSH/IVF candidates + this verify step.
    """
    b = df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(PAIR_BLOCKS)).alias("_blk"),
    )
    # row in block k participates in every cell {min(k,m), max(k,m)}
    cells = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.least(F.col("_blk"), F.lit(m)).alias("i"),
                    F.greatest(F.col("_blk"), F.lit(m)).alias("j"),
                )
                for m in range(PAIR_BLOCKS)
            ]
        )
    )
    replicated = b.select("_id", "_v", "_blk", F.explode(cells).alias("_cell"))

    margin = PAIR_MIN_COS - 1e-6

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = int(pdf["_cell"].iloc[0]["i"]), int(pdf["_cell"].iloc[0]["j"])
        mat = np.vstack(pdf["_v"].to_numpy()).astype("float64")
        norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-12)
        unit = mat / norms[:, None]
        ids = pdf["_id"].to_numpy()
        if i == j:
            sims = unit @ unit.T
            ai, bj = np.nonzero(np.triu(sims >= margin, k=1))
            id_a, id_b = ids[ai], ids[bj]
        else:
            in_i = (pdf["_blk"] == i).to_numpy()
            in_j = (pdf["_blk"] == j).to_numpy()
            sims = unit[in_i] @ unit[in_j].T
            ai, bj = np.nonzero(sims >= margin)
            id_a = ids[in_i][ai]
            id_b = ids[in_j][bj]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        keep = lo != hi
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    cand = replicated.groupBy("_cell").applyInPandas(
        score_cell, "id_a long, id_b long"
    )
    va = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    vb = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("cos"))
        .filter(F.col("cos") >= PAIR_MIN_COS)
    )


def semantic_dedup_cells(
    corpus: DataFrame,
    tau: float,
    nlist: int = 16,
    max_cell_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic dedup: assign every
    vector to its nearest coarse cell (portable hash-sampled
    centroids, argmax sequential-fold cosine — same quantizer as
    ``ivf_topk_portable``), then drop any vector that has a
    SMALLER-id in-cell neighbor with cosine >= ``tau``. Returns
    (id, cell, kept) for the whole corpus — the min-id survivor rule
    makes the verdict deterministic and SQL-renderable.

    This is the scale shape of semantic dedup (Abbas et al.,
    "SemDeDup"): the O(n^2) pair search runs only WITHIN cells, so
    cost is sum_c |cell_c|^2 — with balanced cells, n^2/nlist — and
    each cell's pair join is an equi-join on the cell id, never a
    global cross product. The global-exact companion
    (``cosine_pairs_exact``) covers the no-structure worst case; this
    operator is what you run first at 100 TB, with nlist sized so
    cells fit a task (n/nlist vectors -> |cell|^2 bounded per task).
    Approximation contract: only SAME-CELL duplicates are seen, the
    standard SemDeDup trade (recall grows with nprobe if needed).

    ``max_cell_rows`` bounds the per-TASK pair work when a cell goes
    hot (mass near-duplicates collapse into one cell — the r9 skew
    probe measured the straggler): rows of a cell are salted into
    ``ceil(|cell| / max_cell_rows)`` hash blocks and the in-cell pair
    search becomes a (cell, block_i, block_j) EQUI-join over the
    triangular block grid — every unordered in-cell pair still
    appears exactly once, so the output is IDENTICAL to the uncapped
    path (pinned in tests/test_skew_cap.py); per-task pairs drop from
    |cell|^2 to max_cell_rows^2 at a replication cost of ~n_blocks/2
    copies of the hot cell's rows. The sizing pass collects only
    nlist ROWS, but computing them is a FULL assignment pass over the
    corpus (centroid pick + argmax cosine — ADVICE r9), so enabling
    the cap eagerly materializes the assignment via localCheckpoint
    and the sizing job and the pair search SHARE that one pass
    instead of running it twice; the grid/plain decision is frozen at
    call time (not at execution of the returned DataFrame) — callers
    that mutate the corpus between build and execute must rebuild. A
    balanced corpus (every cell under the cap) then runs the plain
    cell join over the checkpointed assignment — the cap costs the
    one sizing reduction and nothing else until a hot cell exists."""
    cent = portable_centroids(corpus, nlist)
    asg = _nearest_cells(corpus, cent, 1, "embedding")
    # Precompute each vector's norm ONCE: cosine(a,b) recomputes both
    # norms per pair (3 sequential folds); dot/(na*nb) with carried
    # norms is the IDENTICAL float expression tree — l2_norm(a) =
    # sqrt(dot(a,a)) either way — at a third of the fold count over
    # the |cell|^2 pair relation.
    from etl_inreach_spark.functions.vectors import dot

    withn = asg.select(
        F.col("vec_id"), F.col("embedding"), "cell",
        l2_norm(F.col("embedding")).alias("_nrm"),
    )
    pair_cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    # Block counts for the hot-cell grid come from a bounded
    # driver-side collect (nlist rows — the same boundedness class as
    # the library's other collect sites), so the BALANCED case pays
    # one small counting job and then runs the EXACT uncapped plan
    # (bench: an always-on broadcast-join rendering of the cap cost
    # ~2x on the inert path), and the grid machinery only
    # materializes when a hot cell actually exists. The nlist-row
    # collect's LINEAGE is the full corpus assignment (ADVICE r9), so
    # checkpoint it first: the sizing job and the pair search below
    # then share one assignment pass instead of computing it twice.
    grid_sizes = None
    if max_cell_rows is not None:
        # LAZY checkpoint: the sizing collect right below is the first
        # action and its per-cell count scans every partition, so the
        # one sizing job also materializes/truncates the assignment
        # checkpoint — the eager form paid a separate checkpoint job
        # for the same full pass (2 jobs -> 1).
        withn = withn.localCheckpoint(eager=False)
        sizes = {
            r["cell"]: -(-r["_n"] // max_cell_rows)
            for r in withn.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        }
        if any(v > 1 for v in sizes.values()):
            grid_sizes = sizes
    if grid_sizes is None:
        a = withn.select(
            F.col("vec_id").alias("_ida"), F.col("embedding").alias("_va"),
            F.col("_nrm").alias("_na"), "cell",
        )
        b = withn.select(
            F.col("vec_id").alias("_idb"), F.col("embedding").alias("_vb"),
            F.col("_nrm").alias("_nb"), "cell",
        )
        dropped = (
            a.join(b, "cell")
            .filter(F.col("_ida") < F.col("_idb"))
            .filter(pair_cos >= F.lit(tau))
            .select(F.col("_idb").alias("vec_id"))
            .distinct()
        )
    else:
        # triangular block grid within each cell: row -> block by id
        # hash; an unordered pair (x, y) with blocks (kx, ky) meets in
        # exactly ONE grid cell — (min, max) off-diagonal (x on the
        # side whose block is the smaller coordinate), or (k, k) where
        # the _ida < _idb filter de-duplicates the two orientations —
        # so no pair dedup is needed and the output equals the plain
        # cell join's exactly
        # only hot cells (nb > 1) ride in the map literal: Spark
        # scans map literals linearly per row, so an all-cells map is
        # an O(nlist) per-row tax at scale while hot cells are few;
        # balanced cells default to one block via coalesce (nb = 1
        # puts every row of the cell in block 0 and the grid
        # degenerates to the (0, 0) diagonal cell — the plain join)
        nb_map = F.create_map(
            *[
                F.lit(x)
                for cell, nb in grid_sizes.items()
                if nb > 1
                for x in (cell, nb)
            ]
        )
        wb = withn.withColumn(
            "_nb_blk", F.coalesce(nb_map[F.col("cell")].cast("int"), F.lit(1))
        ).withColumn(
            "_blk", F.pmod(F.xxhash64(F.col("vec_id")), F.col("_nb_blk")).cast("int")
        )
        # The grid join's shuffle must be PINNED (explicit-N
        # repartition on the join keys -> REPARTITION_BY_NUM, which
        # AQE never coalesces; the SMJ reuses the partitioning, no
        # second exchange — note the ORIGIN is the pin: under an
        # equi-join Spark 4 re-targets the exchange's COUNT to
        # spark.sql.shuffle.partitions, so n_shuffle below matters
        # only where the conf is unreadable; the conf is the sizing
        # lever, as everywhere — see incremental_semantic.py):
        # grid partitions are compute-dense but
        # byte-SMALL (a hot cell's 6.8M pair-cosines ride on ~1 MB of
        # shuffle), so AQE's byte-based coalescing otherwise merges
        # the whole grid back into one task and resurrects the
        # straggler the grid exists to remove (measured: max task
        # 33-84 s coalesced vs ~3 s pinned, same data).
        # 'auto' is a legal value for this conf under some AQE setups
        # (ADVICE r9): fall back to the cluster's default parallelism
        # rather than crashing the grid path only when a hot cell
        # exists
        try:
            n_shuffle = int(
                withn.sparkSession.conf.get(
                    "spark.sql.shuffle.partitions", "200"
                )
            )
        except ValueError:
            n_shuffle = withn.sparkSession.sparkContext.defaultParallelism
        a = wb.select(
            F.col("vec_id").alias("_ida"), F.col("embedding").alias("_va"),
            F.col("_nrm").alias("_na"), "cell",
            F.col("_blk").alias("_gi"),
            F.explode(
                F.sequence(F.col("_blk"), F.col("_nb_blk") - 1)
            ).alias("_gj"),
        )
        b = wb.select(
            F.col("vec_id").alias("_idb"), F.col("embedding").alias("_vb"),
            F.col("_nrm").alias("_nb"), "cell",
            F.explode(
                F.sequence(F.lit(0), F.col("_blk"))
            ).alias("_gi"),
            F.col("_blk").alias("_gj"),
        )
        a = a.repartition(n_shuffle, "cell", "_gi", "_gj")
        b = b.repartition(n_shuffle, "cell", "_gi", "_gj")
        dropped = (
            a.join(b, ["cell", "_gi", "_gj"])
            .filter(
                (
                    (F.col("_gi") < F.col("_gj"))
                    & (F.col("_ida") != F.col("_idb"))
                )
                | (
                    (F.col("_gi") == F.col("_gj"))
                    & (F.col("_ida") < F.col("_idb"))
                )
            )
            .filter(pair_cos >= F.lit(tau))
            .select(F.greatest("_ida", "_idb").alias("vec_id"))
            .distinct()
        )
    # verdict base is withn, not asg: under the cap withn is the
    # checkpointed assignment, so this join reuses it rather than
    # re-deriving the assignment from asg's lineage a second time
    return withn.join(
        dropped.withColumn("_drop", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id", "cell", F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept")
    )

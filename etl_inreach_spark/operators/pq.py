"""Product quantization (PQ) for embedding columns — the
memory-bounded scale path for approximate nearest-neighbor search
(Jégou, Douze, Schmid, "Product quantization for nearest neighbor
search", TPAMI 2011).

The embedding space is split into ``num_sub`` contiguous subspaces;
each subspace gets its own ``ksub``-centroid codebook (Euclidean
Lloyd's k-means), and a vector is stored as ``num_sub`` small integer
codes — e.g. a 64-dim float64 vector (512 bytes) compresses to 8
one-byte codes. Search runs in the compressed domain via ADC
(asymmetric distance computation): the query stays exact, each
corpus vector's distance is approximated as the sum of per-subspace
[query-subvector -> assigned-centroid] distances read from a tiny
lookup table.

Spark-first shapes (no Python in any per-row path):

* ``pq_train`` trains ALL ``num_sub`` subquantizers simultaneously:
  the corpus is exploded ONCE into (id, sub, subvector) rows — a
  single narrow pass — and every Lloyd iteration is one broadcast
  assignment pass plus a (sub, code, dim)-keyed partial aggregation
  whose shuffle carries num_sub * ksub * dsub rows, NOT the corpus.
  Initialization is the portable hash-sampled pick (same
  PORTABLE_A/B/M grammar as the IVF quantizer), so training is
  deterministic, RNG-free, replay-safe.
* ``pq_encode`` is a broadcast join on ``sub`` (codebooks are
  num_sub * ksub rows — kilobytes) + min_by argmin + one groupBy per
  vector id; output is one array<int> codes column per vector.
* ``ivf_pq_topk`` never touches raw corpus vectors: the per-query
  distance TABLE (num_queries * num_sub * ksub rows) is broadcast,
  exploded codes equi-join it on (sub, code), and per-(query, id)
  partial SUMs reduce to the approximate distance — the classic
  ADC scan as a map-side-combined aggregation, run only over the
  corpus rows of the nprobe cells each query probes. Top-k per query
  is a bounded window (operators/dedup.topk_by_key).

Like any float Lloyd trainer, training averages floats, so results
are deterministic only up to float-summation order; ``pq_train`` is
therefore pytest-pinned (numpy parity + recall sanity) rather than
DuckDB-oracle-gated. ``ivf_pq_build`` composes it with IVF: the coarse
cells prune, PQ compresses the residuals.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_inreach_spark.operators.dedup import topk_by_key
from etl_inreach_spark.operators.similarity import (
    PORTABLE_A,
    PORTABLE_B,
    PORTABLE_M,
)


def _l2sq(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two equal-length arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def subvectors(df: DataFrame, num_sub: int, dim: int) -> DataFrame:
    """(_pid, sub, _sv): the corpus's residual vectors ``_res`` exploded
    by ``vec_id`` into per-subspace slices, elements cast to double. dim must divide
    evenly by num_sub."""
    if dim % num_sub:
        raise ValueError(f"dim {dim} not divisible by num_sub {num_sub}")
    dsub = dim // num_sub
    slices = F.array(
        *[
            F.transform(
                F.slice(F.col("_res"), m * dsub + 1, dsub),
                lambda x: x.cast("double"),
            )
            for m in range(num_sub)
        ]
    )
    return df.select(
        F.col("vec_id").alias("_pid"), F.posexplode(slices).alias("sub", "_sv")
    )


def _assign(subs: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest codebook entry per (id, sub): broadcast equi-join on
    sub (ksub rows per subspace), exact double distances, min_by with
    (distance, code) tie-break — no window, pure hash aggregation."""
    scored = subs.join(F.broadcast(cent), "sub").select(
        "_pid",
        "sub",
        "_sv",
        "code",
        _l2sq(F.col("_sv"), F.col("_cvec")).alias("_d"),
    )
    return scored.groupBy("_pid", "sub").agg(
        F.min_by(F.struct("code", "_sv"), F.struct("_d", "code")).alias("_best")
    ).select("_pid", "sub", F.col("_best.code").alias("code"), F.col("_best._sv").alias("_sv"))


def pq_train(
    corpus: DataFrame,
    num_sub: int = 8,
    ksub: int = 16,
    iters: int = 4,
    dim: int = 64,
    init_offset: int = 0,
) -> DataFrame:
    """Train all subspace codebooks over the ``_res`` vectors; returns (sub, code, _cvec) with
    code in [1, ksub]. Init = the subvectors of the ksub corpus ids
    at positions [init_offset, init_offset + ksub) of the portable
    hash order (global TakeOrdered — bounded heaps, no sort); empty
    codes keep their previous centroid. ``init_offset`` lets a
    composed build (ivf_pq_build) skip the ids already consumed as
    coarse cells: training on RESIDUALS with offset 0 seeds
    codebooks with the cell centroids' own all-zero residuals — a
    degenerate init that tie-breaks every point into code 1."""
    subs = subvectors(corpus, num_sub, dim).localCheckpoint(
        eager=True
    )
    h = (F.lit(PORTABLE_A) * F.col("_pid") + F.lit(PORTABLE_B)) % F.lit(PORTABLE_M)
    picked = (
        subs.select("_pid").distinct().select("_pid", h.alias("_h"))
        .orderBy("_h", "_pid")
        .limit(init_offset + ksub)
    )
    coded = picked.select(
        "_pid",
        (
            F.row_number().over(Window.orderBy("_h", "_pid"))
            - F.lit(init_offset)
        ).alias("code"),
    ).filter(F.col("code") >= 1)
    # LAZY chain (r11): pq_train itself runs no action — the
    # caller's first action (ivf_pq_build's index barrier, or a
    # direct consumer) materializes each iteration's checkpoint in
    # dependency order, one pass each, instead of one eager job per
    # iteration at build time. Plans stay bounded either way (a
    # checkpoint is a LogicalRDD leaf whether eager or lazy).
    # (ADVICE r11 caveat: ivf_pq_build's ASSIGNMENT stage does run a
    # bounded build-time collect — _l2_nearest_cells freezes the
    # nlist coarse cells at DataFrame-build time — so the composed
    # build is not action-free, only this trainer is.)
    cent = (
        subs.join(F.broadcast(coded), "_pid")
        .select("sub", "code", F.col("_sv").alias("_cvec"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        asg = _assign(subs, cent)
        means = (
            asg.select("sub", "code", F.posexplode("_sv").alias("dim", "_x"))
            .groupBy("sub", "code", "dim")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "_m"))).alias("_dm"))
            .select(
                "sub",
                "code",
                F.transform(F.col("_dm"), lambda s: s["_m"]).alias("_new"),
            )
        )
        cent = (
            cent.join(means, ["sub", "code"], "left")
            .select(
                "sub", "code", F.coalesce(F.col("_new"), F.col("_cvec")).alias("_cvec")
            )
            .localCheckpoint(eager=False)
        )
    return cent


def pq_encode(
    corpus: DataFrame,
    cent: DataFrame,
    num_sub: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, codes): each ``_res`` vector as its array of per-subspace nearest
    codebook codes (array ordered by sub). One broadcast join + two
    hash aggregations; the output is the compressed corpus
    representation downstream ADC search reads INSTEAD of the
    embeddings."""
    asg = _assign(subvectors(corpus, num_sub, dim), cent)
    return (
        asg.groupBy("_pid")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("_sc"))
        .select(
            F.col("_pid").alias("vec_id"),
            F.transform(F.col("_sc"), lambda s: s["code"]).alias("codes"),
        )
    )


# ------------------------------------------------------------ IVF-PQ


def _l2_nearest_cells(df: DataFrame, cells: DataFrame, n: int, id_col: str) -> DataFrame:
    """Top-n EUCLIDEAN-nearest coarse cells per vector (the L2
    counterpart of similarity._nearest_cells, which ranks by cosine —
    PQ distances are L2, so the coarse stage must rank in the same
    metric). Broadcast cells, bounded per-vector window.

    Both n == 1 (the corpus-assignment shape of the index build) and
    n > 1 (the query-side probe, r12) take the Arrow fast path,
    mirroring similarity._nearest_cells: an nlist-bounded collect of
    the cells (frozen at the DataFrame-build-time collect, memoized
    per cells object), a pandas_udf replaying the _l2sq fold's exact
    IEEE op order in numpy — d = x - y; acc = acc + d*d ascending dim.
    np.argmin's first-occurrence tie-break (n == 1) and a stable
    ascending argsort (n > 1, NaN naturally sorting last = Spark's
    NaN-greatest ASC rule) both equal the (_cd asc, cell asc) window
    order with cells sorted by cell. ``_cellvec`` is re-attached by a
    broadcast join on the cell id (the residual computation downstream
    needs it); the crossJoin + per-vector window over nlist copies of
    every input row is gone. Returns (cell, id, embedding, _cellvec); the
    empty-cells edge falls through to the window path projected to the
    same columns.

    Vector contract (ADVICE r11): ``embedding`` must be non-NULL,
    equal-length arrays with non-NULL elements — the repo-wide
    embedding-column invariant. The Arrow path's np.vstack fails the
    TASK on a violation, where the old window path would have
    NULL-propagated a distance; an embedding corpus with NULL rows is
    malformed input here, not a supported edge."""
    crows = getattr(cells, "_sg_l2_cell_rows", None)
    if crows is None:
        crows = sorted(
            (r["cell"], list(r["_cellvec"]))
            for r in cells.select("cell", "_cellvec").collect()
        )
        cells._sg_l2_cell_rows = crows
    if crows:
        cell_type = dict(cells.dtypes)["cell"]
        np_cell = {"smallint": "int16", "int": "int32"}.get(cell_type, "int64")
        cells_arr = np.asarray([c for c, _ in crows])
        cmat = np.asarray([v for _, v in crows], dtype=np.float64)

        def _dists(batch):
            q = np.vstack(batch.to_numpy()).astype(np.float64, copy=False)
            m = q.shape[0]
            dists = np.empty((m, cmat.shape[0]), dtype=np.float64)
            for i in range(cmat.shape[0]):
                c = cmat[i]
                acc = np.zeros(m, dtype=np.float64)
                for dd in range(q.shape[1]):
                    d = q[:, dd] - c[dd]
                    acc = acc + d * d
                dists[:, i] = acc
            return dists

        if n == 1:
            # modern typed-hint form (ADVICE r11: one convention with
            # similarity.py — pd is imported at MODULE scope there and
            # here, so inference of the stringized pd.Series hints is
            # reliable despite `from __future__ import annotations`)
            @F.pandas_udf(cell_type)
            def _argmin_cell(batch: pd.Series) -> pd.Series:
                if batch.empty:
                    return pd.Series([], dtype=np_cell)
                return pd.Series(
                    cells_arr[np.argmin(_dists(batch), axis=1)].astype(np_cell)
                )

            return df.select(
                id_col, "embedding", _argmin_cell(F.col("embedding")).alias("cell")
            ).join(F.broadcast(cells), "cell")

        @F.pandas_udf(f"array<{cell_type}>")
        def _topn_cells(batch: pd.Series) -> pd.Series:
            if batch.empty:
                return pd.Series([], dtype=object)
            idx = np.argsort(_dists(batch), axis=1, kind="stable")[:, :n]
            return pd.Series([cells_arr[row].tolist() for row in idx])

        return df.select(
            id_col, "embedding", F.explode(_topn_cells(F.col("embedding"))).alias("cell")
        ).join(F.broadcast(cells), "cell")

    scored = df.crossJoin(F.broadcast(cells)).select(
        id_col,
        "embedding",
        "cell",
        "_cellvec",
        _l2sq(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.col("_cellvec"),
        ).alias("_cd"),
    )
    return topk_by_key(
        scored, [id_col], [F.col("_cd").asc(), F.col("cell").asc()], n, rank_col="_crn"
    ).select("cell", id_col, "embedding", "_cellvec")


def _residual(vec_col: Column, cell_col: Column) -> Column:
    return F.zip_with(vec_col, cell_col, lambda x, y: x.cast("double") - y)


def ivf_pq_build(
    corpus: DataFrame,
    nlist: int = 8,
    num_sub: int = 8,
    ksub: int = 16,
    iters: int = 3,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The Faiss-style IVF-PQ index as three relations:

    * ``cells``   (cell, _cellvec): coarse quantizer — the portable
      hash-sampled pick (deterministic, RNG-free), ranked in L2;
    * ``books``   (sub, code, _cvec): PQ codebooks trained on the
      RESIDUALS (vector minus its cell centroid) — residual PQ is
      what makes the fine quantizer spend its codes on the
      within-cell structure instead of re-encoding cell position;
    * ``index``   (id, cell, codes): each vector's cell + its
      residual's PQ codes — the compressed corpus downstream search
      reads INSTEAD of the embeddings (1 int + num_sub codes per
      vector).

    Every stage is the same bounded shape as its standalone
    counterpart: one broadcast coarse assignment pass, then pq_train /
    pq_encode on the residual column. The returned relations are
    eagerly checkpointed — build once, search many."""
    h = (F.lit(PORTABLE_A) * F.col("vec_id") + F.lit(PORTABLE_B)) % F.lit(PORTABLE_M)
    picked = (
        corpus.select(
            h.alias("_h"), F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cv")
        )
        .orderBy("_h", "_cid")
        .limit(nlist)
    )
    # cells/assigned LAZY (r11): the index barrier below is the
    # single eager cut that materializes the whole build chain in one
    # action; assigned's three consumers then read persisted blocks.
    cells = picked.select(
        F.row_number().over(Window.orderBy("_h", "_cid")).alias("cell"),
        F.transform(F.col("_cv"), lambda x: x.cast("double")).alias("_cellvec"),
    ).localCheckpoint(eager=False)

    assigned = (
        _l2_nearest_cells(corpus, cells, 1, "vec_id")
        .select(
            "vec_id",
            "cell",
            _residual(F.col("embedding"), F.col("_cellvec")).alias("_res"),
        )
        .localCheckpoint(eager=False)
    )
    # init_offset=nlist: the first nlist hash picks ARE the cell
    # centroids, whose residuals are identically zero — seeding the
    # codebooks with them would collapse the init (every entry zero,
    # every point tie-broken into code 1)
    books = pq_train(
        assigned,
        num_sub=num_sub,
        ksub=ksub,
        iters=iters,
        dim=dim,
        init_offset=nlist,
    )
    index = (
        pq_encode(assigned, books, num_sub=num_sub, dim=dim)
        .join(assigned.select("vec_id", "cell"), "vec_id")
        .localCheckpoint(eager=True)
    )
    return cells, books, index


def ivf_pq_topk(
    index: DataFrame,
    cells: DataFrame,
    books: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    num_sub: int = 8,
    dim: int = 64,
    fp_bits: int | None = None,
) -> DataFrame:
    """Approximate top-k per query over the IVF-PQ index: probe the
    ``nprobe`` L2-nearest cells, then ADC over the probed cells'
    residual codes.

    ``fp_bits`` switches the ADC accumulation to exact fixed point:
    each per-subspace distance is floored onto the 2^fp_bits grid
    BEFORE the sum, making the total an order-insensitive bigint —
    the rendering that lets a SQL oracle replay the search
    bit-for-bit (the floor-then-sum discipline of ngram_diversity).
    Default (None) keeps double ADC distances for production use.

    dist(q, x) ~ sum_m || (q - c_cell)_m  -  book[m][code_m(x)] ||^2
    — per (query, probed cell) the num_sub * ksub lookup table is
    built once from the query residual; tables for all (query, cell)
    pairs total |Q| * nprobe * num_sub * ksub rows — broadcast. The
    corpus side joins on (cell, sub, code), so only vectors in probed
    cells are touched (the 1/nlist * nprobe pruning), and the SUM per
    (query, id) is map-side combined. No raw corpus vector is read at
    search time."""
    probed = _l2_nearest_cells(queries, cells, nprobe, "q_id").select(
        F.col("q_id").alias("_qid"),
        "cell",
        _residual(F.col("embedding"), F.col("_cellvec")).alias("_qres"),
    )
    # slice inline (not via subvectors()) so each residual's subrows
    # stay attached to THEIR (query, cell) pair — a query probing two
    # cells has two DIFFERENT residuals.
    dsub = dim // num_sub
    q_slices = F.array(
        *[F.slice(F.col("_qres"), m * dsub + 1, dsub) for m in range(num_sub)]
    )
    d_expr = _l2sq(F.col("_sv"), F.col("_cvec"))
    if fp_bits is not None:
        d_expr = F.floor(d_expr * F.lit(float(1 << fp_bits)))
    table = (
        probed.select("_qid", "cell", F.posexplode(q_slices).alias("sub", "_sv"))
        .join(F.broadcast(books), "sub")
        .select(
            "_qid",
            "cell",
            "sub",
            "code",
            d_expr.alias("_d"),
        )
    )
    code_rows = index.select(
        F.col("vec_id").alias("_pid"),
        "cell",
        F.posexplode("codes").alias("sub", "code"),
    )
    dists = (
        code_rows.join(F.broadcast(table), ["cell", "sub", "code"])
        .groupBy("_qid", "_pid")
        .agg(F.sum("_d").alias("adc_dist"))
    )
    return topk_by_key(
        dists,
        ["_qid"],
        [F.col("adc_dist").asc(), F.col("_pid").asc()],
        k,
        rank_col="rank",
    ).select(
        F.col("_qid").alias("q_id"),
        F.col("_pid").alias("vec_id"),
        "adc_dist",
        "rank",
    )

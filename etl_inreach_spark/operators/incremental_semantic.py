"""Incremental semantic dedup: SemDeDup cell verdicts over a growing
embedding corpus, one cell-equi-join per increment.

The 100 TB reality this models, same as operators/incremental_dedup.py
for MinHash: an embedding corpus grows by batches, and re-running the
whole-corpus in-cell pair search per increment is O(corpus) work for
O(batch) new vectors. Here each increment

  1. assigns ITS vectors to cells under a FROZEN coarse quantizer
     (centroids are an argument — production trains the quantizer
     once on an initial sample and reuses it; re-training per batch
     would silently reshuffle cell boundaries and un-define the
     incremental verdict);
  2. probes the persisted per-cell state with ONE equi-join on cell
     (cost ~ |batch| x avg cell density — independent of running the
     full corpus pair search again);
  3. resolves batch-internal pairs with one in-batch cell join
     (~ |batch|^2 / nlist);
  4. appends its rows to the state (idempotent via the same
     batch-marker protocol as sinks/upsert — a replayed batch cannot
     double-ingest).

Contract — MIN-ID WINS, deliberately different from the incremental
MinHash operator's survivor-state/first-ingested-wins:

* The one-shot SemDeDup verdict (semantic_dedup_cells: drop v iff
  some SMALLER-ID in-cell neighbor has cosine >= tau, kept or not)
  is the specification, so the state stores EVERY ingested vector,
  not just survivors, and the drop rule compares against smaller-id
  neighbors only. Consequence (the convergence theorem the oracled
  query pins): for ID-MONOTONE ingestion — batch k's ids all exceed
  batch k-1's, the shape of every append-only pipeline that assigns
  ids monotonically — the labels after N increments EQUAL the
  one-shot verdict over the union, bit for bit. Non-monotone
  ingestion stays well-defined (v is judged against everything
  ingested up to and including its own batch) but can diverge from
  one-shot, since an earlier-id vector arriving later never
  relabels an already-kept row; that is what incremental means.
* Smaller-id-only matching also makes REPLAY idempotent: on a
  re-ingested batch each vector collides with its own stored row
  (cos = 1) and with its batch-mates' stored rows in both
  orientations; the id < filter leaves labels exactly as the first
  run computed them.

State is O(ingested vectors) — embeddings cannot be sketched down
like MinHash band keys without changing the verdict itself (the
cosine needs the vector). It is parquet partitioned by ``cell`` with
the norm precomputed per row, so an increment's probe join reads each
touched cell's directory once and never recomputes history norms.

Hot-cell skew: the probe join is BIPARTITE (batch x history), so the
one-shot operator's triangular grid does not apply — and "increments
are small" does not save it, because a hot HISTORY cell (mass
near-duplicates accumulated over many increments) concentrates
|hist_cell| x |batch_cell| pair work in the ONE task that owns that
cell key, on every future increment that touches the cell.
``max_cell_rows`` is the bipartite remedy: salt the history side of
the hot cells into ``ceil(|hist_cell| / max_cell_rows)`` hash blocks
and replicate the (small) batch side's rows of that cell once per
block, turning the probe into an equi-join on (cell, block) whose
per-task pair count is bounded by max_cell_rows x |batch_cell|.
Every (history, batch) pair still meets exactly once — the history
row sits in one block and the batch row visits every block — so the
output is IDENTICAL to the uncapped join (pinned in
tests/test_incremental_semantic.py). Block counts come from a
per-cell count over the state (<= nlist rows collected — the frozen
quantizer bounds the cell domain; the scan prunes to the partition
column), and a balanced state runs the plain equi-join unchanged.
A mass-duplicate BATCH is still the one-shot operator's job: cap it
with the triangular grid before ingest (the in-batch join here is
|batch|^2 / nlist and small by the same construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_inreach_spark.functions.vectors import dot, l2_norm
from etl_inreach_spark.operators.similarity import _nearest_cells
from etl_inreach_spark.sinks.upsert import (
    _batch_applied,
    _mark_batch_applied,
    _path_exists,
)


def incremental_semantic_dedup(
    spark: SparkSession,
    batch: DataFrame,
    centroids: DataFrame,
    state_path: str,
    batch_id: str,
    tau: float,
    max_cell_rows: int | None = None,
) -> DataFrame:
    """Label ``batch`` against the persisted corpus state under the
    frozen ``centroids`` (cell, _cvec) and append the batch's rows.
    Returns (vec_id, cell, kept boolean, dup_of nullable) where
    ``dup_of`` is the SMALLEST id among the smaller-id in-cell
    neighbors at cosine >= tau (historical or batch-internal).
    Re-running the same ``batch_id`` is a no-op for state (marker
    protocol) and recomputes identical labels.

    One assignment pass for the batch (checkpointed — consumed by the
    history probe, the in-batch pair join, and the state append), and
    ONE cell equi-join covering the state probe AND the batch-internal
    pairs together (r12 — a join distributes over the history ∪ batch
    union; the salted hot-cell path keeps its dedicated block join).
    ``max_cell_rows`` bounds the per-task pair work of the history
    probe when a state cell has gone hot — bipartite salting, output
    identical; see the module docstring."""
    asg = _nearest_cells(batch, centroids, 1, "embedding")
    # LAZY checkpoint (r11): the state-append write below is the
    # increment's first action over the assignment and scans every
    # partition, so that one write job also materializes/truncates
    # this checkpoint; the eager form paid a separate assignment job
    # per increment for the same pass. The later consumers (history
    # probe, in-batch join, label seed) read the persisted partitions.
    withn = asg.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_vec"),
        "cell",
        l2_norm(F.col("embedding")).alias("_nrm"),
    ).localCheckpoint(eager=False)

    pair_cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    new_side = withn.select(
        F.col("_id").alias("_idb"), F.col("_vec").alias("_vb"),
        F.col("_nrm").alias("_nb"), "cell",
    )
    # the batch's own rows in the smaller-id role — joined against
    # new_side TOGETHER with the unsalted history below (r12): the
    # in-batch pairs and the history probe share the same cell
    # equi-join + (_ida < _idb, cos >= tau) filters, and a join
    # distributes over a union, so ONE join of (hist ∪ batch) x batch
    # produces exactly the union of the old two joins' outputs while
    # paying one fewer join (and its AQE stage materializations) per
    # increment. The SALTED hot-cell path keeps its dedicated join —
    # the bipartite block replication applies to history only.
    batch_side_a = withn.select(
        F.col("_id").alias("_ida"), F.col("_vec").alias("_va"),
        F.col("_nrm").alias("_na"), "cell",
    )
    smaller_side = batch_side_a
    salted_hits = None

    # --- vs history (smaller-id rows only — see module contract) ----
    if _path_exists(spark, state_path):
        hist = spark.read.parquet(state_path).select(
            F.col("_id").alias("_ida"), F.col("_vec").alias("_va"),
            F.col("_nrm").alias("_na"), "cell",
        )
        blk_sizes = None
        if max_cell_rows is not None:
            # per-cell state counts: the cell domain is nlist-bounded
            # (frozen quantizer), so this collect is <= nlist rows —
            # the library's bounded-collect class — and the scan
            # prunes to the partition column (footer row counts, no
            # data pages)
            sizes = {
                r["cell"]: -(-r["_n"] // max_cell_rows)
                for r in hist.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect()
            }
            if any(v > 1 for v in sizes.values()):
                blk_sizes = sizes
        if blk_sizes is None:
            smaller_side = hist.unionByName(batch_side_a)
        else:
            # bipartite salt: history row -> ONE block by id hash;
            # batch row -> EVERY block of its cell (cells absent from
            # state get nb=1 via coalesce and then join nothing), so
            # each (history, batch) pair meets exactly once and the
            # output equals the plain join's. Per-task pairs drop
            # from |hist_cell| x |batch_cell| to max_cell_rows x
            # |batch_cell|; replication touches only the SMALL batch
            # side (nb copies of its hot-cell rows).
            # the map literal carries ONLY the hot cells (nb > 1) —
            # Spark evaluates map literals by linear scan per row, so
            # an all-cells map would cost O(nlist) per row at scale
            # (nlist ~ 1e5 for a 100 TB SemDeDup corpus) while hot
            # cells are few by nature; everything else defaults to
            # one block via coalesce
            nb_map = F.create_map(
                *[
                    F.lit(x)
                    for cell, nb in blk_sizes.items()
                    if nb > 1
                    for x in (cell, nb)
                ]
            )
            h = hist.withColumn(
                "_blk",
                F.pmod(
                    F.xxhash64(F.col("_ida")),
                    F.coalesce(
                        nb_map[F.col("cell")].cast("bigint"), F.lit(1)
                    ),
                ).cast("int"),
            )
            nbt = new_side.withColumn(
                "_nb_blk", F.coalesce(nb_map[F.col("cell")].cast("int"), F.lit(1))
            ).withColumn(
                "_blk",
                F.explode(F.sequence(F.lit(0), F.col("_nb_blk") - 1)),
            ).drop("_nb_blk")
            # pin the shuffle: salted blocks of the hot cell are
            # byte-modest but compute-dense (pair-cosines ride on the
            # vectors ONCE per row, work is quadratic in row count) —
            # AQE's byte-based coalescing would re-merge them into
            # the straggler the salt exists to remove (the
            # semantic_dedup_cells grid learned this in r9, measured).
            # What the pin controls is the ORIGIN, not the count:
            # Spark's join planning re-targets even REPARTITION_BY_NUM
            # exchanges under an equi-join to spark.sql.shuffle.
            # partitions (verified on 4.1: repartition(7) under an SMJ
            # plans as hashpartitioning(..., conf)), but the
            # REPARTITION_BY_NUM origin survives and is what exempts
            # the exchange from AQE coalescing — so the operative
            # sizing lever is the conf, as everywhere else in Spark,
            # and the explicit number here only needs to be a sane
            # default for sessions where the conf is unreadable
            try:
                n_shuffle = int(
                    spark.conf.get("spark.sql.shuffle.partitions", "200")
                )
            except ValueError:
                n_shuffle = spark.sparkContext.defaultParallelism
            h = h.repartition(n_shuffle, "cell", "_blk")
            nbt = nbt.repartition(n_shuffle, "cell", "_blk")
            salted_hits = (
                nbt.join(h, ["cell", "_blk"])
                .filter(F.col("_ida") < F.col("_idb"))
                .filter(pair_cos >= F.lit(tau))
                .select("_idb", "_ida")
            )

    # --- history (unsalted) + within batch, ONE cell equi-join ------
    # (r12 also measured an outer-keyed variant — LEFT join from the
    # batch side with the pair predicate inside a conditional min, so
    # the aggregate IS the labeled relation and the join-back below
    # disappears. It cut 2 jobs/increment but ran ~1.9 s slower warm
    # at sf0.1: the inner join's inline pair filters beat pushing
    # every in-cell pair through the aggregate. Kept the inner form.)
    hits = (
        smaller_side.join(new_side, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(pair_cos >= F.lit(tau))
        .select("_idb", "_ida")
    )
    if salted_hits is not None:
        hits = salted_hits.unionByName(hits)

    id_type = dict(withn.dtypes)["_id"]
    cell_type = dict(withn.dtypes)["cell"]
    # --- append the batch's rows (ALL of them — min-id-wins needs
    # dropped rows too; idempotent via the marker protocol).
    # The append runs BEFORE the label checkpoint (r11) so its write
    # job is the action that materializes the lazy assignment
    # checkpoint above. Label correctness is unaffected by the
    # reorder: ``hist`` was loaded from the PRE-append file listing,
    # and even if a listing refresh surfaced this batch's own rows,
    # the ``_ida < _idb`` filter plus min-aggregation reproduce the
    # identical labels — the same argument that makes replay
    # idempotent (module docstring).
    if not _batch_applied(spark, state_path, batch_id):
        # repartition ON the partition column first: otherwise every
        # shuffle partition opens a writer per cell it touches and the
        # state accrues n_partitions x nlist tiny files per increment
        # (the classic dynamic-partition small-file explosion); one
        # task per cell writes one file per cell per increment
        (
            withn.repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(state_path)
        )
        _mark_batch_applied(spark, state_path, batch_id)

    # EAGER on purpose: labels are part of the increment's contract
    # ("judged against everything ingested up to and including its
    # own batch") — deferring them to the caller's first action would
    # let LATER increments' appends land first, which for non-monotone
    # ingestion could change what this batch is judged against.
    #
    # ONE aggregation instead of min-agg + join-back (r12): union the
    # batch's own (id, cell) rows — with a NULL smaller-id — under the
    # hit pairs and take min(_ida) (ignores the NULL seed; NULL iff no
    # hit) and max(cell) (the seed row is the only one carrying a
    # cell) per id. Batch ids are unique (they are ids), so the group
    # count equals the batch row count and every value matches the
    # old left join bit for bit, one shuffle earlier.
    seed = withn.select(
        F.col("_id").alias("_idb"),
        F.lit(None).cast(id_type).alias("_ida"),
        "cell",
    )
    labeled = (
        hits.select("_idb", "_ida", F.lit(None).cast(cell_type).alias("cell"))
        .unionByName(seed)
        .groupBy("_idb")
        .agg(F.min("_ida").alias("dup_of"), F.max("cell").alias("cell"))
        .select(
            F.col("_idb").alias("vec_id"),
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
        .localCheckpoint(eager=True)
    )
    return labeled

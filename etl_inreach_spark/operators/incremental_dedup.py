"""Incremental corpus dedup: near-dup-gate each NEW batch of documents
against the signatures of everything ingested before it.

The 100 TB reality this models: a crawl corpus grows by daily
increments, and re-running whole-corpus MinHash dedup per increment is
O(corpus) work for O(batch) new data. The standard production design
(Gopher/RefinedWeb-style) is incremental: persist each survivor's
MinHash signature keyed by its LSH band buckets; a new batch computes
signatures for ITS documents only, probes the bucket state with an
equi-join, and appends its survivors' signatures — per-increment cost
O(batch + collisions), independent of corpus size.

Two deliberate contracts, both documented because they differ from the
one-shot ``minhash_lsh_pairs``:

* Verification is by SIGNATURE AGREEMENT (fraction of equal minhash
  slots — an unbiased Jaccard estimator, +-1/sqrt(k) noise), not exact
  shingle Jaccard: storing shingles would make state ~the corpus
  itself, defeating the point. k=64 tightens the estimate to ~0.12
  std; the DUP_AGREEMENT threshold is on the ESTIMATE.
* First-wins canonicalization: a new doc matching history is dropped
  in favor of the EARLIER doc (dup_of = historical id); within a
  batch, components collapse to their min id (same exact
  connected-components operator as the one-shot path). This is
  order-dependent across batches by design — that is what incremental
  means — while batch-internal results stay order-exact.

State layout: parquet partitioned by ``band_id`` (one directory per
band), rows (doc_id, band_id, band_hash, sig). The probe join's keys
are (band_id, band_hash); partition pruning serves nothing for a full
probe (all bands join) but makes per-band compaction/inspection
cheap. Idempotent appends via the same batch-marker protocol as
sinks/upsert (a replayed foreachBatch/retry cannot double-ingest its
signatures). Band-bucket skew (a degenerate band_hash shared by
thousands of docs — empty texts, boilerplate) is the known hot spot;
AQE skew-join splitting handles the probe side, and pathological
buckets should be capped upstream by a boilerplate gate.

Why SURVIVOR-only state also bounds state-side skew structurally,
unlike operators/incremental_semantic.py: two survivors sharing a
band bucket are by definition documents that collided and were NOT
judged duplicates, so a state bucket can only accumulate
near-threshold non-duplicates — a mass-duplicate clique contributes
ONE survivor row per band. The semantic operator cannot use this
trick (min-id-wins needs dropped rows in state, so hot state cells
are real there and carry their own bipartite ``max_cell_rows`` cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_inreach_spark.operators.text_dedup import (
    banded_minhash,
    shingles_exploded,
)
from etl_inreach_spark.sinks.upsert import (
    _batch_applied,
    _mark_batch_applied,
    _path_exists,
)


def batch_signatures(batch: DataFrame, shingle_k: int = 5) -> DataFrame:
    """Flat banded signature relation for a (doc_id, text) batch:
    (doc_id, band_id, band_hash, sig array<bigint>) — MINHASH_BANDS
    rows per document, bit-identical to the one-shot operator's
    signatures for the same text."""
    sh = shingles_exploded(batch, shingle_k)
    return banded_minhash(sh).select(
        F.col("_id").alias("doc_id"),
        F.col("_band.band_id").alias("band_id"),
        F.col("_band.band_hash").alias("band_hash"),
        F.col("_sig").alias("sig"),
    )


def _sig_agreement(a, b) -> "F.Column":
    return F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq)
    ).cast("double") / F.size(a)


# Signature agreement (estimated Jaccard) at which a document is a duplicate.
DUP_AGREEMENT = 0.8


def incremental_dedup(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    batch_id: str,
    shingle_k: int = 5,
) -> DataFrame:
    """Label ``batch`` (doc_id, text) against the persisted corpus
    state and append the survivors' signatures. A document is a
    duplicate when its signature agreement with another reaches
    DUP_AGREEMENT. Returns the labeled batch:
    (doc_id, keep boolean, dup_of nullable) where ``dup_of`` is the
    historical or batch-internal canonical the document duplicated.
    Re-running the same ``batch_id`` is a no-op for state (marker
    protocol) and recomputes the same labels.

    One signature build for the batch (checkpointed — consumed by the
    history probe, the internal pair join, and the state append), one
    equi-join against state, one batch-internal bucket join, one CC
    pass on the (tiny) batch-internal pair set.
    """
    # LAZY (r11): materialized by the first consuming action of
    # the increment (history-probe checkpoint or label checkpoint)
    sigs = batch_signatures(batch, shingle_k).localCheckpoint(eager=False)

    # --- vs history -------------------------------------------------
    if _path_exists(spark, state_path):
        hist = spark.read.parquet(state_path)
        hits = (
            sigs.alias("n")
            .join(
                hist.alias("h"),
                (F.col("n.band_id") == F.col("h.band_id"))
                & (F.col("n.band_hash") == F.col("h.band_hash")),
            )
            # a doc is never a duplicate of ITSELF: on a replayed /
            # re-ingested batch each doc collides with its own stored
            # signature, and without this filter the replay would flip
            # its label from keep to dup-of-self (label idempotence is
            # part of the replay contract, pinned in tests)
            .filter(F.col("n.doc_id") != F.col("h.doc_id"))
            .filter(_sig_agreement(F.col("n.sig"), F.col("h.sig")) >= DUP_AGREEMENT)
            .groupBy(F.col("n.doc_id").alias("doc_id"))
            .agg(F.min(F.col("h.doc_id")).alias("dup_of"))
        )
    else:
        hits = spark.createDataFrame([], "doc_id bigint, dup_of bigint")
    hist_dups = hits.localCheckpoint(eager=False)  # LAZY (r11): single consumer (label join)

    # --- within batch ----------------------------------------------
    from etl_inreach_spark.operators.dedup import connected_components

    a = sigs.select("band_id", "band_hash", F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select("band_id", "band_hash", F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    internal_pairs = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_sig_agreement(F.col("sig_a"), F.col("sig_b")) >= DUP_AGREEMENT)
        .select("id_a", "id_b")
        .distinct()
    )
    comp = connected_components(internal_pairs)
    internal_dups = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id"), F.col("component").alias("dup_of_batch")
    )

    labeled = (
        batch.select("doc_id")
        .join(hist_dups, "doc_id", "left")
        .join(internal_dups, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("dup_of").isNull() & F.col("dup_of_batch").isNull()).alias(
                "keep"
            ),
            # history wins (first-wins across time), else batch canonical
            F.coalesce("dup_of", "dup_of_batch").alias("dup_of"),
        )
    ).localCheckpoint(eager=True)

    # --- append survivors' signatures (idempotent) -------------------
    if not _batch_applied(spark, state_path, batch_id):
        survivors = labeled.filter(F.col("keep")).select("doc_id")
        (
            sigs.join(survivors, "doc_id", "left_semi")
            .write.mode("append")
            .partitionBy("band_id")
            .parquet(state_path)
        )
        _mark_batch_applied(spark, state_path, batch_id)
    return labeled

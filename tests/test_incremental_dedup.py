"""Incremental corpus dedup (operators/incremental_dedup.py):
cross-batch first-wins semantics, batch-internal canonicalization,
idempotent state appends, and signature compatibility with the
one-shot operator."""

from __future__ import annotations

from pyspark.sql import functions as F

BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays "
    "a long and winding tune about distributed shuffles and parquet "
    "footers in the moonlight near the data lake shore "
) * 3


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_across_batches(spark, tmp_path):
    from etl_inreach_spark.operators.incremental_dedup import incremental_dedup

    state = str(tmp_path / "state")
    b1 = _docs(
        spark,
        [
            (1, BASE),
            (2, BASE + "tiny tail edit"),  # near-dup of 1
            (3, "completely different text about oranges and harbors " * 9),
        ],
    )
    l1 = {r["doc_id"]: r for r in incremental_dedup(spark, b1, state, "b1").collect()}
    assert l1[1]["keep"] and l1[3]["keep"]
    assert not l1[2]["keep"] and l1[2]["dup_of"] == 1

    # batch 2: another near-copy of doc 1 (drops vs HISTORY), a copy
    # of batch-2's own doc (drops vs batch), and a fresh doc
    b2 = _docs(
        spark,
        [
            (10, BASE + "other small suffix"),
            (11, "fresh content about glaciers and compilers " * 10),
            (12, "fresh content about glaciers and compilers " * 10),
            (13, "entirely new musings on bucket joins " * 12),
        ],
    )
    l2 = {r["doc_id"]: r for r in incremental_dedup(spark, b2, state, "b2").collect()}
    assert not l2[10]["keep"] and l2[10]["dup_of"] == 1  # first-wins vs history
    assert l2[11]["keep"] and not l2[12]["keep"] and l2[12]["dup_of"] == 11
    assert l2[13]["keep"]

    # state now holds signatures of survivors only: 1, 3, 11, 13
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(state).select("doc_id").distinct().collect()
    }
    assert ids == {1, 3, 11, 13}


def test_incremental_dedup_replay_is_idempotent(spark, tmp_path):
    from etl_inreach_spark.operators.incremental_dedup import incremental_dedup

    state = str(tmp_path / "state")
    b1 = _docs(spark, [(1, BASE), (2, "other prose about rivers " * 12)])
    incremental_dedup(spark, b1, state, "b1").collect()
    n1 = spark.read.parquet(state).count()
    # replayed batch (same id): same labels, NO new state rows
    l2 = {
        r["doc_id"]: r["keep"]
        for r in incremental_dedup(spark, b1, state, "b1").collect()
    }
    assert spark.read.parquet(state).count() == n1
    # label idempotence: each doc collides with its OWN stored
    # signature on replay, which must not flip its label to
    # dup-of-self — the self-match filter keeps replay labels equal
    # to the first run's
    assert l2 == {1: True, 2: True}


def test_incremental_signatures_match_one_shot_operator(spark, tmp_path):
    """The incremental path must agree with the one-shot pair finder
    on what is a duplicate at the same threshold (signature-estimate
    verification on both sides of the comparison here)."""
    from etl_inreach_spark.operators.incremental_dedup import (
        batch_signatures,
        incremental_dedup,
    )

    rows = [
        (1, BASE),
        (2, BASE + "small difference at the end"),
        (3, "unrelated document about chess endgames " * 10),
        (4, "unrelated document about chess endgames " * 10 + "extra"),
    ]
    d = _docs(spark, rows)
    sigs = batch_signatures(d)
    # every doc emits exactly `bands` rows with a 64-lane signature
    per_doc = {r["doc_id"]: r["n"] for r in sigs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_doc == {1: 16, 2: 16, 3: 16, 4: 16}
    lab = {
        r["doc_id"]: r
        for r in incremental_dedup(
            spark, d, str(tmp_path / "s"), "b"
        ).collect()
    }
    assert lab[2]["dup_of"] == 1 and lab[4]["dup_of"] == 3
    assert lab[1]["keep"] and lab[3]["keep"]


def test_incremental_dedup_no_python_udf(spark, tmp_path):
    from etl_inreach_spark.operators.incremental_dedup import incremental_dedup

    d = _docs(spark, [(i, f"doc number {i} " * 20) for i in range(20)])
    out = incremental_dedup(spark, d, str(tmp_path / "s"), "b0")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_dedup_as_streaming_foreachbatch(spark, tmp_path):
    """Deployment mode: a file stream of document batches dripped
    through foreachBatch(incremental_dedup). State accumulates across
    micro-batches and a later batch's near-copy of an earlier batch's
    doc is dropped first-wins — the same semantics as the manual
    calls, now under Structured Streaming's retry/replay contract
    (batch_id comes from the engine, so a replayed micro-batch cannot
    double-append state)."""
    import json

    from etl_inreach_spark.operators.incremental_dedup import incremental_dedup

    feed = tmp_path / "feed"
    feed.mkdir()
    state = str(tmp_path / "state")
    labels_dir = str(tmp_path / "labels")

    def drop(name, rows):
        p = feed / f"{name}.json"
        with open(p, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    drop("b1", [{"doc_id": 1, "text": BASE}, {"doc_id": 2, "text": "about owls " * 20}])

    def handle(batch_df, batch_id):
        out = incremental_dedup(
            spark, batch_df, state, f"stream-{batch_id}"
        )
        out.write.mode("append").parquet(labels_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)

    drop("b2", [{"doc_id": 10, "text": BASE + "late suffix"}, {"doc_id": 11, "text": "about glaciers " * 20}])
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(feed))
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    stream2.awaitTermination(120)

    lab = {
        r["doc_id"]: r
        for r in spark.read.parquet(labels_dir).collect()
    }
    assert lab[1]["keep"] and lab[2]["keep"] and lab[11]["keep"]
    assert not lab[10]["keep"] and lab[10]["dup_of"] == 1
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(state).select("doc_id").distinct().collect()
    }
    assert ids == {1, 2, 11}

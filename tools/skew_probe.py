"""Skew-stress probe: hot-key scenarios replayed against the
operators whose scale story depends on a bucketing claim, recording
wall-clock AND per-repeat max single-task durations (the straggler
detector — the number each bucketing claim must hold down).

Three probe families (select via the third CLI arg):

* ``events`` (VERDICT r7 item 5): ``trailing_1h_distinct_users``
  (windows per (event_type, day) — a 92%-hot type must split across
  its ~30 day buckets) and ``session_path_trigrams`` (user-keyed —
  type skew must not move it) over replicated events with one type
  remapped to 92% of traffic.
* ``minhash`` (VERDICT r8 item 6): ``minhash_lsh_dedup`` against a
  planted 1,000-document identical-text clique — the bounded stand-in
  for boilerplate mass-duplication (a 92%-of-corpus clique is
  degenerate: the TRUE pair output is itself quadratic; the 100 TB
  remedy is the exact-dedup pre-pass, not a candidate trick). Also
  runs ``minhash_after_exact_dedup`` — the shipped composition of
  that remedy — on the clique fixture to show the bounded pair
  output (VERDICT r9 item 4).
* ``semdedup`` (VERDICT r8 item 6): ``semantic_dedup_cells`` with 92%
  of vectors collapsing into ONE quantizer cell (auto-broadcast off,
  as at scale), uncapped vs the ``max_cell_rows`` block grid.
* ``fuzzy`` (VERDICT r9 item 3): ``edit1_pairs`` against a planted
  mass-duplicate customer name — every copy lands in the same |s|+1
  deletion-variant buckets and each bucket's |b|^2 expansion is one
  join task uncapped; ``max_bucket_rows`` grid vs uncapped
  (auto-broadcast off, as at scale).
* ``incsem`` (round 11): the incremental semantic dedup PROBE join
  (operators/incremental_semantic.py) under a hot HISTORY cell — the
  bipartite complement of ``semdedup``'s one-shot story. State is
  seeded as prior increments would have left it (92% of a ``repl``x
  corpus collapsed into one cell under a frozen DIVERSE quantizer),
  then a small mixed batch probes it: uncapped, the hot cell's
  |hist_cell| x |batch_cell| pair work is ONE join task every future
  increment; ``max_cell_rows`` salts the history side into blocks
  and replicates only the small batch side (auto-broadcast off — at
  scale a million-row increment does not broadcast, and the join
  shuffles on cell).
* ``graph`` (VERDICT r10 item 2): the iterative-shuffle family under
  a HOT-DEGREE vertex. (a) One part forced into 30% of all orders
  (one lineitem per hot order remapped), then
  ``triangle_count_copurchase`` — degree-oriented intersection is
  the classic hot-vertex victim; orientation should leave the hub's
  out-list empty and spread its triangles over the low-degree
  endpoints — and ``pagerank3_copurchase``, whose per-iteration
  join keys on the hub for deg(hub) rows. (b) A planted STAR
  component (one center adjacent to 30% of all nodes, matched-pair
  background) for ``connected_components`` (min-label propagation)
  vs ``connected_components_star`` (large/small-star contraction) —
  the hot-degree complement of the long-chain story those two
  already tell.

Measurement discipline, learned the hard way in r9 (each clause
guards against an artifact that produced wrong committed numbers):
execution is a NOOP-format write, never ``.count()`` (Catalyst prunes
unreferenced columns — it deleted a pair search and a window from the
"measured" plans); each family gets a FRESH session (old-gen buildup
from co-resident phases manufactured a 100 s phantom straggler); one
GC after warm-up, never immediately before a timed repeat (the
full-heap pause overlapped the repeat and became its own 150 s
phantom straggler).

Each repeat is one ``tools.measure.measure`` call; max task time and
the straggler ratio come from Spark's in-process status store (no UI
server), taken over all stages of the repeat's job groups and reported
PER REPEAT (ADVICE r8: min-of-max hides intermittent stragglers). Run
solo (bench discipline applies).

Usage: python tools/skew_probe.py [sf_dir] [replication] [family]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_inreach_spark.catalog import load_table  # noqa: E402
from etl_inreach_spark.session import get_spark  # noqa: E402
from tools.measure import measure, noop_write  # noqa: E402


def _run(spark, name, fn, sf_dir, repeats: int = 3, warm: bool = True):
    """One discarded warm-up pass (codegen/shuffle JIT; skippable for
    straggler runs where cold-JIT noise is orders of magnitude below
    the signal), then ``repeats`` measured noop writes (never count():
    see the module docstring). Wall is min-of-``repeats`` (the bench
    discipline); max task and straggler ratio are reported for EVERY
    repeat, because a min-of-max would hide an intermittent straggler
    (ADVICE r8)."""
    n = fn(spark, sf_dir).count()  # row count only, not measured
    if warm:
        noop_write(fn(spark, sf_dir))  # warm-up, not measured
    # ONE settle-down GC before the measurement loop: garbage from
    # earlier executions otherwise bleeds old-gen pauses into the
    # measured tasks. NOT per-repeat — a full GC of the large local
    # heap right before a repeat overlapped that repeat's tasks and
    # manufactured a 150 s phantom straggler of its own.
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    recs = [
        measure(spark, f"probe:{name}:{rep}", lambda: fn(spark, sf_dir))
        for rep in range(repeats)
    ]
    return {
        "wall_sec": round(min(r["wall_s"] for r in recs), 2),
        "rows": n,
        "jobs_per_repeat": [r["jobs"] for r in recs],
        "max_task_sec": round(max(r["max_task_s"] for r in recs), 2),
        "max_task_sec_per_repeat": [round(r["max_task_s"], 2) for r in recs],
        # worst max/p50 task ratio over stages of >= 4 tasks, per
        # repeat: host noise inflates every task of a stage together,
        # so only a genuine skew straggler lifts max far above p50
        "straggler_ratio_per_repeat": [round(r["straggler_ratio"], 1) for r in recs],
    }


def _probe_events(spark, sf_dir: str, repl: int) -> dict:
    from etl_inreach_spark.queries_analytics import (
        session_path_trigrams,
        trailing_1h_distinct_users,
    )

    ev = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="spark_graft_skewprobe_")
    variants = {}
    reps = F.explode(
        F.array(*[F.lit(k).cast("bigint") for k in range(repl)])
    ).alias("_k")
    base = ev.select("*", reps).select(
        (F.col("event_id") + F.col("_k") * F.lit(10**12)).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("_k") * F.lit(10**9)).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    for label, df in (
        ("uniform", base),
        (
            # >= 90% of all traffic remapped onto ONE type
            "skew90",
            base.withColumn(
                "event_type",
                F.when(
                    F.pmod(F.xxhash64("event_id", "user_id"), F.lit(10)) < 9,
                    F.lit("click"),
                ).otherwise(F.col("event_type")),
            ),
        ),
    ):
        d = os.path.join(root, label)
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        variants[label] = d

    out = {"sf_dir": sf_dir, "replication": repl}
    for label, d in variants.items():
        n = spark.read.parquet(os.path.join(d, "events.parquet")).count()
        mix = (
            spark.read.parquet(os.path.join(d, "events.parquet"))
            .groupBy("event_type")
            .count()
            .orderBy(F.desc("count"))
            .first()
        )
        out[label] = {
            "n_events": n,
            "top_type_share": round(mix["count"] / n, 3),
            "trailing_1h_distinct_users": _run(
                spark, f"trailing:{label}", trailing_1h_distinct_users, d
            ),
            "session_path_trigrams": _run(
                spark, f"trigrams:{label}", session_path_trigrams, d
            ),
        }
    shutil.rmtree(root, ignore_errors=True)
    return out


def _probe_minhash(spark, sf_dir: str, repl: int) -> dict:
    """Band-bucket skew for MinHash-LSH (VERDICT r8 item 6): at
    ``repl``x documents, the skew variant plants a BOUNDED boilerplate
    cluster — 1,000 documents with IDENTICAL text — so every one of
    the 16 bands gets one 1,000-item bucket whose collect_list task
    expands ~500k candidate pairs (the per-bucket |b|^2 bound under
    test). The cluster is bounded BY DESIGN: a 92%-of-corpus identical
    cluster is the degenerate case whose true duplicate-pair OUTPUT is
    itself quadratic (~1e9 pairs at 10x) — no candidate strategy can
    beat its own output size, and the documented 100 TB remedy is the
    exact-dedup pre-pass (exact_dedup_documents collapses identical
    texts before LSH ever runs). What must hold here: the hot buckets
    stay single-task-sized in memory (1,000 sigs ~ 0.5 MB), the
    expansion tasks stay seconds-not-minutes, and wall degrades
    gracefully vs the uniform mix.

    Uniform baseline: each replica's text is prefixed with a replica
    tag, so replicas are genuine ~0.97-Jaccard near-dups of their
    source — buckets of ~repl items, the healthy LSH regime."""
    from etl_inreach_spark.queries_extended import (
        minhash_after_exact_dedup,
        minhash_lsh_dedup,
    )

    d0 = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="spark_graft_skewprobe_")
    reps = F.explode(
        F.array(*[F.lit(k).cast("bigint") for k in range(repl)])
    ).alias("_k")
    base = d0.select("*", reps).select(
        (F.col("doc_id") + F.col("_k") * F.lit(10**9)).alias("doc_id"),
        F.concat(F.lit("r"), F.col("_k"), F.lit(" "), F.col("text")).alias(
            "text"
        ),
        "lang",
        "source",
        "_k",
    )
    boiler = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua ut "
        "enim ad minim veniam quis nostrud exercitation ullamco laboris "
        "nisi ut aliquip ex ea commodo consequat duis aute irure dolor"
    )
    variants = {}
    for label, df in (
        ("uniform", base.drop("_k")),
        (
            # 1,000 docs remapped to ONE identical boilerplate text
            "hot1k",
            base.withColumn(
                "text",
                F.when(
                    (F.col("_k") == 0)
                    & (F.pmod(F.xxhash64("doc_id"), F.lit(5)) < 1),
                    F.lit(boiler),
                ).otherwise(F.col("text")),
            ).drop("_k"),
        ),
    ):
        d = os.path.join(root, label)
        # n_chars AFTER any hot-text remap (ADVICE r9): the fixture
        # must stay internally consistent if a probed query starts
        # consulting n_chars
        df = df.withColumn("n_chars", F.length("text"))
        df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        variants[label] = d

    out = {}
    for label, d in variants.items():
        out[label] = {
            "n_docs": spark.read.parquet(
                os.path.join(d, "documents.parquet")
            ).count(),
            "minhash_lsh_dedup": _run(
                spark, f"minhash:{label}", minhash_lsh_dedup, d
            ),
        }
        if label == "hot1k":
            # the shipped 100 TB recipe (VERDICT r9 item 4): exact
            # dedup collapses the clique to its min-id survivor
            # BEFORE LSH, so the pair output drops from C(1000,2)
            # true dist-0 pairs to the cross-stem residue — rows here
            # is the bounded-pairs evidence
            out[label]["minhash_after_exact_dedup"] = _run(
                spark,
                f"minhash_composed:{label}",
                minhash_after_exact_dedup,
                d,
            )
    shutil.rmtree(root, ignore_errors=True)
    return out


def _probe_semdedup(spark, sf_dir: str, repl: int) -> dict:
    """Hot-CELL skew for SemDeDup (VERDICT r8 item 6): 92% of a
    ``repl``x embeddings corpus remapped to jittered copies of ONE
    base vector, so they all quantize into one cell. Three runs:

    * uniform capped — balanced cells, block grid inert (nb=1);
    * skew92 UNCAPPED — the straggler the cap exists for: the hot
      cell's |cell|^2 pair search lands in ONE join task (repeats=1;
      at this magnitude draw noise is irrelevant and each extra
      repeat costs the full straggler);
    * skew92 capped (max_cell_rows=512) — same data, same output,
      per-task pairs bounded by 512^2/2.

    The hot-cell size is what the quadratic bound sees — per-bucket
    |b|^2 is independent of corpus size — so ``repl`` pins it
    directly: repl=2 -> 3,680-row hot cell -> ~6.8M single-task pairs
    uncapped (~35 s at the measured ~190k pair-cosines/s/task); 10x
    would make the same single task ~15 min, which is the point of
    the cap, not a thing to wait on."""
    from etl_inreach_spark.operators.similarity import semantic_dedup_cells

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="spark_graft_skewprobe_")
    reps = F.explode(
        F.array(*[F.lit(k).cast("bigint") for k in range(repl)])
    ).alias("_k")
    base = emb.select("*", reps).select(
        (F.col("vec_id") + F.col("_k") * F.lit(10**9)).alias("vec_id"),
        # per-replica jitter so replicas are not trivially identical
        F.transform(
            "embedding",
            lambda x: (x * (1.0 + F.col("_k") * F.lit(1e-4))).cast("float"),
        ).alias("embedding"),
        "label",
    )
    # the quantizer's nlist sample is picked by id HASH only, so the
    # picked ids are invariant under any embedding remap: exclude them
    # from the hot remap so the centroids keep their original diverse
    # vectors. Without this the 92% duplication swallows ~15 of the 16
    # sampled centroids and the near-identical centroids SPLIT the hot
    # mass across cells (measured: max cell 1053/4000) — the scenario
    # under test is trained/diverse centroids + mass-duplicate
    # arrivals, the one that concentrates a single hot cell.
    from etl_inreach_spark.operators.similarity import (
        PORTABLE_A,
        PORTABLE_B,
        PORTABLE_M,
    )

    h = (F.lit(PORTABLE_A) * F.col("vec_id") + F.lit(PORTABLE_B)) % F.lit(
        PORTABLE_M
    )
    cent_ids = [
        r["vec_id"]
        for r in base.select("vec_id", h.alias("_h"))
        .orderBy("_h", "vec_id")
        .limit(16)
        .collect()
    ]
    hot = (F.pmod(F.xxhash64("vec_id"), F.lit(25)) < 23) & (
        ~F.col("vec_id").isin(cent_ids)
    )  # ~92%
    base_vec = emb.select("embedding").first()["embedding"]
    hot_vec = F.array(*[F.lit(float(v)) for v in base_vec])
    skew = base.withColumn(
        "embedding",
        F.when(
            hot,
            F.transform(
                hot_vec,
                lambda x, i: (
                    x
                    * (
                        1.0
                        + (F.pmod(F.col("vec_id") + i, F.lit(97)) - 48)
                        * F.lit(1e-5)
                    )
                ).cast("float"),
            ),
        ).otherwise(F.col("embedding")),
    )
    variants = {"uniform": base, "skew92": skew}
    paths = {}
    for label, df in variants.items():
        d = os.path.join(root, label)
        df.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
        paths[label] = d

    def capped(s, d):
        e = load_table(s, d, "embeddings")
        return semantic_dedup_cells(e, 0.3, nlist=16, max_cell_rows=512)

    def uncapped(s, d):
        e = load_table(s, d, "embeddings")
        return semantic_dedup_cells(e, 0.3, nlist=16)

    # Disable auto-broadcast for these runs: at probe scale Spark
    # broadcasts the 4,000-row join side, which spreads the pair work
    # by INPUT partitioning and hides the hot cell entirely. At 100 TB
    # the corpus side cannot broadcast — the in-cell join shuffles on
    # cell and the hot cell lands in ONE task. Note AQE's skew-join
    # would NOT save that plan either: its detector is BYTE-based
    # (256 MB threshold) while the blowup here is compute-quadratic in
    # pair count — the 3,690-row hot cell is ~1 MB on the wire but
    # ~6.8M pair-cosines of CPU. The deterministic block grid bounds
    # pairs per task, which is the quantity that actually explodes.
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    out = {}
    try:
        for k in prev:
            spark.conf.set(k, "-1")
        for label, d in paths.items():
            n = spark.read.parquet(os.path.join(d, "embeddings.parquet")).count()
            entry = {
                "n_vecs": n,
                "capped512": _run(spark, f"sem:{label}:cap", capped, d),
            }
            if label == "skew92":
                # the straggler run: one cold draw — at ~50x the capped
                # wall, JIT noise is irrelevant and each extra repeat
                # costs the full straggler
                entry["uncapped"] = _run(
                    spark, f"sem:{label}:uncap", uncapped, d, repeats=1,
                    warm=False,
                )
            out[label] = entry
    finally:
        # restore EXACTLY: keys that were unset must be unset again
        # (ADVICE r10 — skipping them would leave the pin behind if
        # this helper is ever reused inside a shared session)
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    shutil.rmtree(root, ignore_errors=True)
    return out


def _probe_fuzzy(spark, sf_dir: str, repl: int) -> dict:
    """Hot-BUCKET skew for FastSS edit-distance pairs (VERDICT r9
    item 3): mass NEAR-MISS duplicates (~1/30 of a ``repl``x customer
    table remapped to 'duplicate ingest customer record nr D' for a
    single digit D) — the counter-suffixed boilerplate shape of
    record-linkage corpora. Deleting the final digit sends ALL the
    remapped rows into ONE mega variant-bucket, and uncapped that
    bucket's |b|^2 candidate expansion is ONE join task whose
    cross-group pairs (different D) each pay the full levenshtein DP
    (~|s|^2 char-ops). Three runs mirror the semdedup probe:

    * uniform capped — natural name buckets, grid inert (nb=1);
    * hot uncapped — the straggler (repeats=1, cold: each extra
      repeat costs the full straggler);
    * hot capped (max_bucket_rows=256) — same data, same output,
      per-task candidates bounded by 256^2.

    Why near-miss and not an identical clique: ``edit1_pairs`` now
    short-circuits dist-0 pairs to a string EQUALITY (the r10 fast
    path — measured on an identical 2,000-row clique it alone cut the
    uncapped hot run from 150 s wall / 129 s max task to 30 s / 15 s,
    healthy-host draws), so identical mass-duplicates no longer
    straggle and exact-dedup-first remains their structural remedy.
    What the grid cap defends is precisely the near-miss mass
    duplicate that exact dedup CANNOT collapse and the fast path
    CANNOT skip — this fixture.

    The group structure keeps the true output quadratic-in-clique by
    definition (every cross-group pair is a genuine dist-1 pair —
    the minhash output-size argument); the grid's job is to SPREAD
    that production across ceil(m/cap)^2/2 tasks instead of one.

    Uniform baseline note: TPC-H names are 'Customer#000000001'-style,
    so names differing in one digit are ALREADY true dist-1 pairs —
    the uniform run carries a realistic nonzero pair load (replica
    suffixes add cross-replica dist-1 pairs on the same stem)."""
    from etl_inreach_spark.operators.fuzzy import edit1_pairs

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    root = tempfile.mkdtemp(prefix="spark_graft_skewprobe_")
    reps = F.explode(
        F.array(*[F.lit(k).cast("bigint") for k in range(repl)])
    ).alias("_k")
    base = cust.select("*", reps).select(
        (F.col("c_custkey") + F.col("_k") * F.lit(10**9)).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit("#"), F.col("_k")).alias("c_name"),
    )
    hot_name = F.concat(
        F.lit("duplicate ingest customer record nr "),
        F.pmod(F.xxhash64("c_custkey"), F.lit(10)),
    )
    variants = {
        "uniform": base,
        "hot": base.withColumn(
            "c_name",
            F.when(
                F.pmod(F.xxhash64("c_custkey", "c_name"), F.lit(30)) < 1,
                hot_name,
            ).otherwise(F.col("c_name")),
        ),
    }
    paths = {}
    for label, df in variants.items():
        d = os.path.join(root, label)
        df.write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))
        paths[label] = d

    def capped(s, d):
        c = load_table(s, d, "customer").select("c_custkey", "c_name")
        return edit1_pairs(c, max_bucket_rows=256)

    def uncapped(s, d):
        c = load_table(s, d, "customer").select("c_custkey", "c_name")
        return edit1_pairs(c)

    # auto-broadcast off, as at scale: the variant relation of a
    # 100 TB corpus cannot broadcast — the bucket self-join shuffles
    # on vkey and a hot bucket lands in one task (the byte-small/
    # compute-dense shape AQE's byte-based skew detector cannot see)
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    out = {}
    try:
        for k in prev:
            spark.conf.set(k, "-1")
        for label, d in paths.items():
            n = spark.read.parquet(os.path.join(d, "customer.parquet")).count()
            entry = {
                "n_names": n,
                "capped256": _run(spark, f"fuzzy:{label}:cap", capped, d),
            }
            if label == "hot":
                entry["uncapped"] = _run(
                    spark, f"fuzzy:{label}:uncap", uncapped, d, repeats=1,
                    warm=False,
                )
            out[label] = entry
    finally:
        # restore EXACTLY: keys that were unset must be unset again
        # (ADVICE r10 — skipping them would leave the pin behind if
        # this helper is ever reused inside a shared session)
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    shutil.rmtree(root, ignore_errors=True)
    return out


def _probe_incsem(spark, sf_dir: str, repl: int) -> dict:
    """Hot HISTORY cell for the incremental semantic probe join: the
    state holds ``repl`` x embeddings with 92% remapped to jittered
    copies of ONE base vector (one hot cell under a frozen quantizer
    trained on the ORIGINAL diverse corpus — production's shape:
    train first, mass-duplicates arrive later), and a new increment
    of ~300 rows (2/3 landing in the hot cell, ids above all state
    ids) probes it. Uncapped, the hot cell is |hist_cell| x
    |batch_cell| pair-cosines in one task; max_cell_rows=512 salts
    history into ceil(|cell|/512) blocks, bounding per-task pairs at
    512 x |batch_cell| with only the 300-row batch side replicated.
    Both variants share one state (the batch marker makes the second
    variant's append a no-op; replay labels are pinned identical by
    tests), so capped and uncapped time the SAME join inputs.
    The probe join is LINEAR in state size (bipartite, fixed batch)
    so repl scales the straggler linearly — repl=10 at sf0.1 is a
    ~18k-row hot cell, ~3.7M single-task pairs uncapped."""
    from etl_inreach_spark.functions.vectors import l2_norm
    from etl_inreach_spark.operators.incremental_semantic import (
        incremental_semantic_dedup,
    )
    from etl_inreach_spark.operators.similarity import (
        _nearest_cells,
        portable_centroids,
    )
    from etl_inreach_spark.sinks.upsert import _mark_batch_applied

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="spark_graft_incsem_")
    cent = portable_centroids(emb, 16).localCheckpoint(eager=True)

    reps = F.explode(
        F.array(*[F.lit(k).cast("bigint") for k in range(repl)])
    ).alias("_k")
    base = emb.select("*", reps).select(
        (F.col("vec_id") + F.col("_k") * F.lit(10**9)).alias("vec_id"),
        "embedding",
    )
    base_vec = emb.select("embedding").first()["embedding"]
    hot_vec = F.array(*[F.lit(float(v)) for v in base_vec])
    jitter = lambda: F.transform(  # noqa: E731
        hot_vec,
        lambda x, i: (
            x
            * (1.0 + (F.pmod(F.col("vec_id") + i, F.lit(97)) - 48) * F.lit(1e-5))
        ).cast("float"),
    )
    hot = F.pmod(F.xxhash64("vec_id"), F.lit(25)) < 23  # ~92%
    skew = base.withColumn(
        "embedding", F.when(hot, jitter()).otherwise(F.col("embedding"))
    )
    # seed the state EXACTLY as the operator's append leaves it
    # (assignment under the frozen quantizer, precomputed norm,
    # partitioned by cell, one file per cell per increment) — prior
    # increments' result without paying their in-batch joins, which
    # are the ONE-SHOT probe's story. Seed as FOUR id-range appends:
    # real state accrues one file per cell per increment, and a
    # single-write seed leaves the hot cell as ONE unsplittable
    # 15 MB row group whose lone scan task reads as a phantom
    # straggler (the graph probe's single-file fixture artifact)
    state = os.path.join(root, "state")
    seeded = _nearest_cells(skew, cent, 1, "embedding").select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_vec"),
        "cell",
        l2_norm(F.col("embedding")).alias("_nrm"),
    )
    for q in range(4):
        (
            seeded.filter(F.pmod(F.xxhash64("_id"), F.lit(4)) == q)
            .repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(state)
        )
    _mark_batch_applied(spark, state, "seed")
    hot_cell_rows = max(
        r["_n"]
        for r in spark.read.parquet(state)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )

    def _batch(s, d):
        e = load_table(s, d, "embeddings")
        sel = F.pmod(F.xxhash64("vec_id"), F.lit(20))
        b_hot = (
            e.filter(sel < 2)
            .select(
                (F.col("vec_id") + F.lit(10**13)).alias("vec_id"),
                "embedding",
            )
            .withColumn("embedding", jitter())
        )
        b_bg = e.filter((sel >= 2) & (sel < 3)).select(
            (F.col("vec_id") + F.lit(10**13)).alias("vec_id"), "embedding"
        )
        return b_hot.unionByName(b_bg)

    def capped(s, d):
        return incremental_semantic_dedup(
            s, _batch(s, d), cent, state, "probe", tau=0.3,
            max_cell_rows=512,
        )

    def uncapped(s, d):
        return incremental_semantic_dedup(
            s, _batch(s, d), cent, state, "probe", tau=0.3
        )

    # same rationale as _probe_semdedup: at probe scale Spark would
    # broadcast the 300-row batch side and spread the pair work by
    # the state's input partitioning — at 100 TB an increment is
    # millions of rows and the probe join shuffles on cell, so the
    # hot cell IS one task; AQE skew-join won't split it either
    # (byte-based detector, compute-quadratic blowup)
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    out = {"state_rows": spark.read.parquet(state).count(),
           "hot_cell_rows": hot_cell_rows}
    try:
        for k in prev:
            spark.conf.set(k, "-1")
        out["uncapped"] = _run(
            spark, "incsem:uncap", uncapped, sf_dir, repeats=2, warm=False
        )
        out["capped512"] = _run(spark, "incsem:cap", capped, sf_dir)
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    shutil.rmtree(root, ignore_errors=True)
    return out


def _probe_graph(spark, sf_dir: str, repl: int) -> dict:
    """Hot-degree-vertex probe for the operators with ITERATIVE
    shuffles (the one family the r10 probe matrix did not cover).

    Co-purchase side: replicate orders ``repl``x with part ids FIXED
    (the co-purchase graph densifies as data grows — the 100 TB
    shape), then remap ONE lineitem of 30% of orders to a single hub
    part. The hub's degree approaches the whole part domain;
    triangle counting must stay balanced because degree orientation
    leaves the hub's out-adjacency empty (every neighbor has lower
    degree, so hub edges all point INTO it and its triangles close
    on the low-degree endpoints' short lists), and PageRank must
    stay balanced because contributions INTO the hub are a map-side-
    combined partial agg, not a single-task reduction.

    Components side: a planted star (center adjacent to 30% of all
    nodes; the rest matched pairs) — diameter 2, so this is the
    hot-DEGREE complement of the long-chain diameter story that
    picks between min-label propagation and star contraction."""
    from etl_inreach_spark.queries_extended import (
        pagerank3_copurchase,
        triangle_count_copurchase,
    )

    li = load_table(spark, sf_dir, "lineitem")
    root = tempfile.mkdtemp(prefix="spark_graft_skewprobe_")
    reps = F.explode(
        F.array(*[F.lit(k).cast("bigint") for k in range(repl)])
    ).alias("_k")
    base = li.select("*", reps).select(
        (F.col("l_orderkey") + F.col("_k") * F.lit(10**12)).alias(
            "l_orderkey"
        ),
        *[c for c in li.columns if c != "l_orderkey"],
    )
    hub = 1
    variants = {}
    for label, df in (
        ("uniform", base),
        (
            # hub part lands in ~30% of ALL orders: inside the 30%
            # hot-order slice, remap every line whose part hashes
            # even (l_linenumber is NOT sequential in this data —
            # only 44% of orders have a line 1 — so a per-part coin
            # at ~4.1 lines/order reaches P(>=1 remap) ~ 0.94 while
            # keeping most of the order's other parts in place)
            "hot30",
            base.withColumn(
                "l_partkey",
                F.when(
                    (F.pmod(F.xxhash64("l_orderkey"), F.lit(10)) < 3)
                    & (F.pmod(F.xxhash64("l_partkey"), F.lit(2)) == 0),
                    F.lit(hub).cast("bigint"),
                ).otherwise(F.col("l_partkey")),
            ),
        ),
    ):
        d = os.path.join(root, label)
        # spread the fixture across files: the explode-replicated frame
        # otherwise lands in ONE parquet file whose single row group is
        # unsplittable, and the scan stage's lone loaded task
        # masquerades as an operator straggler (ratio 80 with ZERO
        # shuffle records — diagnosed r11)
        df.repartition(64).write.mode("overwrite").parquet(
            os.path.join(d, "lineitem.parquet")
        )
        variants[label] = d

    out = {"sf_dir": sf_dir, "replication": repl}
    for label, d in variants.items():
        m = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
        n_orders = m.select("l_orderkey").distinct().count()
        hub_orders = (
            m.filter(F.col("l_partkey") == hub)
            .select("l_orderkey")
            .distinct()
            .count()
        )
        hub_degree = (
            m.alias("a")
            .join(m.alias("b"), "l_orderkey")
            .filter(F.col("a.l_partkey") == hub)
            .filter(F.col("b.l_partkey") != hub)
            .select("b.l_partkey")
            .distinct()
            .count()
        )
        out[label] = {
            "n_orders": n_orders,
            "hub_order_share": round(hub_orders / n_orders, 3),
            "hub_degree": hub_degree,
            "triangle_count_copurchase": _run(
                spark, f"tri:{label}", triangle_count_copurchase, d
            ),
            "pagerank3_copurchase": _run(
                spark, f"pr3:{label}", pagerank3_copurchase, d
            ),
        }

    # ---- planted star component: operator-level ---------------------
    from etl_inreach_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n_nodes = 20_000 * repl
    n_star = (3 * n_nodes) // 10
    if (n_nodes - n_star - 1) % 2:
        # keep the non-star residual EVEN so the matched-pair fill
        # covers every node — otherwise the last node is isolated and
        # star30 silently runs over one fewer node than uniform_pairs
        n_star += 1

    def _star_edges(s):
        center = s.range(1, n_star + 1).select(
            F.lit(0).cast("bigint").alias("id_a"), F.col("id").alias("id_b")
        )
        rest = (
            s.range(n_star + 1, n_nodes - 1, 2)
            .select(
                F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
            )
        )
        return center.unionByName(rest)

    def _pairs_only(s):
        return s.range(0, n_nodes - 1, 2).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )

    for label, mk in (("star30", _star_edges), ("uniform_pairs", _pairs_only)):
        cc = {
            "n_nodes": n_nodes,
            "n_star": n_star if label == "star30" else 0,
            "connected_components": _run(
                spark,
                f"cc:{label}",
                lambda s, _d, mk=mk: connected_components(
                    mk(s)
                ),
                sf_dir,
            ),
            "connected_components_star": _run(
                spark,
                f"ccstar:{label}",
                lambda s, _d, mk=mk: connected_components_star(
                    mk(s)
                ),
                sf_dir,
            ),
        }
        out[f"components_{label}"] = cc
    shutil.rmtree(root, ignore_errors=True)
    return out


def _fresh_spark():
    """A FRESH session per probe family: co-resident heavy phases
    contaminate each other's task times through JVM state (old-gen
    buildup from window/aggregation buffers — a skewed trailing-1h
    run measured a 100 s max task after 12 prior heavy executions vs
    3 s in a fresh session). Isolation is part of the measurement."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        time.sleep(1)
    s = get_spark("skew-probe")
    s.sparkContext.setLogLevel("ERROR")
    return s


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repl = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    which = sys.argv[3] if len(sys.argv) > 3 else "all"
    out = {"sf_dir": sf_dir, "replication": repl, "probe": which}
    if which in ("all", "events"):
        out["events"] = _probe_events(_fresh_spark(), sf_dir, repl)
    if which in ("all", "minhash"):
        out["minhash"] = _probe_minhash(_fresh_spark(), sf_dir, repl)
    if which in ("all", "semdedup"):
        # hot-cell size = 0.92 * repl * |embeddings|; see docstring
        out["semdedup"] = _probe_semdedup(_fresh_spark(), sf_dir, min(repl, 2))
    if which in ("all", "fuzzy"):
        out["fuzzy"] = _probe_fuzzy(_fresh_spark(), sf_dir, repl)
    if which in ("all", "incsem"):
        # probe-join cost is LINEAR in state size (bipartite, fixed
        # batch) — repl=10 is a meaningful hot cell without the
        # quadratic guard the one-shot families need
        out["incsem"] = _probe_incsem(_fresh_spark(), sf_dir, repl)
    if which in ("all", "graph"):
        # co-purchase edge count grows ~repl x with fixed parts; 4x
        # already densifies the graph well past the sf's natural shape
        out["graph"] = _probe_graph(_fresh_spark(), sf_dir, min(repl, 4))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

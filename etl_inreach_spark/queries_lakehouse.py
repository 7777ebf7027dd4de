"""Lakehouse / stateful-operator oracle gates (VERDICT r6 item 3).

Four operators whose coverage was pytest-only get value oracles here,
each pinning the INVARIANT the stateful or file-layout operator must
satisfy — the same pattern that oracle-gated the CMS monoid via
``cms_incremental_merge``:

* ``incremental_dedup_convergence`` — the batched incremental MinHash
  dedup replayed exactly in DuckDB (portable Carter-Wegman signature
  arithmetic + sequential 3-batch survivor-state recursion);
* ``incremental_semantic_dedup_convergence`` — the batched semantic
  dedup pinned EQUAL to the one-shot SemDeDup verdict (min-id-wins
  over id-monotone batches — the convergence theorem in
  operators/incremental_semantic.py);
* ``bucketed_join_revenue`` — the zero-Exchange co-bucketed join must
  equal the plain shuffled join (oracle = the plain join);
* ``compaction_roundtrip_orders`` — OPTIMIZE-style compaction must be
  content-invariant and hit its computed output-file count;
* ``binary_media_metadata`` — the binaryFile media-struct scan's
  metadata/content against DuckDB's ``read_blob`` over the same
  committed fixture directory.

CALLER CONTRACT (fixture lifetime): each query's returned DataFrame
reads files under a per-invocation GENERATION subdirectory of a named
scratch slot with keep-last-1 retention (see ``_scratch``): invoking
the same query again leaves the previous invocation's files readable
and deletes anything older (ADVICE r8). So a caller may hold the
previous result while collecting the new one; only a result >= 2
invocations old goes stale — traded for sweeps that never accumulate
more than two orders/customer copies per slot (ADVICE r7).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.text_dedup import (
    MERSENNE31,
    _minhash_coeffs,
    poly_gram_hash60_sql,
)
from etl_inreach_spark.queries import query

_SCRATCH_ROOT: str | None = None
_SCRATCH_GEN: dict[str, int] = {}


def _scratch(name: str) -> str:
    """Per-invocation fixture directory
    ``<session-root>/<name>/g<N>``: ONE mkdtemp per process, removed
    at interpreter exit; each call of the same slot gets a FRESH
    generation subdirectory and deletes every generation older than
    the previous one (keep-last-1, ADVICE r8). The returned
    DataFrames are lazy, so the previous invocation's files must stay
    readable until its caller collects — retention of exactly one
    back-generation supports that without letting repeated
    oracle/bench sweeps accumulate full copies of orders/customer per
    invocation (ADVICE r7). A result older than two invocations of
    the same query reads deleted files — the documented (and now
    generous) edge of the contract."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_lakehouse_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    gen = _SCRATCH_GEN.get(name, 0) + 1
    _SCRATCH_GEN[name] = gen
    slot = os.path.join(_SCRATCH_ROOT, name)
    # keep-last-1 means only generation gen-2 can still exist — delete
    # exactly it instead of rescanning 1..gen-2 every call (the O(gen^2)
    # rmtree-syscall tail over a long sweep, ADVICE r9)
    if gen >= 3:
        shutil.rmtree(os.path.join(slot, f"g{gen - 2}"), ignore_errors=True)
    d = os.path.join(slot, f"g{gen}")
    os.makedirs(d)
    return d


def _incremental_oracle() -> str:
    """DuckDB replay of 3-batch incremental MinHash dedup
    (operators/incremental_dedup.py) with k=64 hashes, b=16 bands,
    9-gram shingles, threshold 0.8.

    Why this is EXACT, not approximate:

    * The signature arithmetic is fully portable — the 60-bit
      polynomial+affine gram hash (poly_gram_hash60_sql, generated
      from the same loop as the Spark Column) reduced mod 2^31-1,
      then 64 Carter-Wegman min-aggregates with the same
      _minhash_coeffs constants. DuckDB reproduces every signature
      slot bit-for-bit.
    * Banding needs no replay: agreement >= 0.8 means >= 52 of 64
      slots equal, and if every one of the 16 bands had <= 3 of its 4
      slots equal the total would be <= 48 < 52 — so by pigeonhole a
      qualifying pair ALWAYS fully collides in some band (the LSH
      candidate step is lossless at this threshold, the same argument
      that makes the banded SimHash query brute-force-oracleable).
      Spurious xxhash64 band collisions on the Spark side are killed
      by the same agreement filter both engines apply.
    * The agreement threshold count/64 >= 0.8 is equivalent to the
      integer predicate count >= 52 in IEEE and in exact arithmetic
      alike, so the oracle uses the integer form.
    """
    ms = [
        f"min(({a} * h + {b}) % {MERSENNE31}) AS m{i}"
        for i, (a, b) in enumerate(_minhash_coeffs())
    ]
    agree = " + ".join(
        f"(CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END)" for i in range(64)
    )
    return f"""
    WITH RECURSIVE grams AS (
        SELECT doc_id, ({poly_gram_hash60_sql()}) % {MERSENNE31} AS h
        FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, length(text) - 8),
                                         i -> substr(text, i, 9))) AS g
            FROM documents
        )
    ), sigs AS MATERIALIZED (
        SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch,
               {', '.join(ms)}
        FROM grams GROUP BY doc_id
    ), pairs AS MATERIALIZED (
        SELECT x.doc_id AS a, x.batch AS ba, y.doc_id AS b, y.batch AS bb
        FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
        WHERE ({agree}) >= 52
    ), apairs AS (
        SELECT a, ba, b, bb FROM pairs
        UNION ALL
        SELECT b, bb, a, ba FROM pairs
    ), samebatch AS (
        SELECT a, b FROM apairs WHERE ba = bb
    ), nodes AS (
        SELECT DISTINCT a AS id FROM samebatch
    ), reach(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.a, s.b FROM reach r JOIN samebatch s ON r.b = s.a
    ), internal AS (
        SELECT a AS doc_id, min(b) AS dup_of_batch
        FROM reach GROUP BY a HAVING min(b) <> a
    ), docs AS (
        SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch FROM documents
    ), lab0 AS (
        SELECT d.doc_id, d.batch, i.dup_of_batch AS dup_of
        FROM docs d LEFT JOIN internal i USING (doc_id) WHERE d.batch = 0
    ), surv0 AS (
        SELECT doc_id FROM lab0 WHERE dup_of IS NULL
    ), hist1 AS (
        SELECT p.a AS doc_id, min(p.b) AS dup_hist
        FROM apairs p JOIN surv0 s ON p.b = s.doc_id
        WHERE p.ba = 1 GROUP BY p.a
    ), lab1 AS (
        SELECT d.doc_id, d.batch,
               coalesce(h.dup_hist, i.dup_of_batch) AS dup_of
        FROM docs d
        LEFT JOIN hist1 h USING (doc_id)
        LEFT JOIN internal i USING (doc_id)
        WHERE d.batch = 1
    ), surv01 AS (
        SELECT doc_id FROM surv0
        UNION ALL
        SELECT doc_id FROM lab1 WHERE dup_of IS NULL
    ), hist2 AS (
        SELECT p.a AS doc_id, min(p.b) AS dup_hist
        FROM apairs p JOIN surv01 s ON p.b = s.doc_id
        WHERE p.ba = 2 GROUP BY p.a
    ), lab2 AS (
        SELECT d.doc_id, d.batch,
               coalesce(h.dup_hist, i.dup_of_batch) AS dup_of
        FROM docs d
        LEFT JOIN hist2 h USING (doc_id)
        LEFT JOIN internal i USING (doc_id)
        WHERE d.batch = 2
    ), lab AS (
        SELECT * FROM lab0 UNION ALL SELECT * FROM lab1
        UNION ALL SELECT * FROM lab2
    )
    SELECT doc_id, batch, dup_of IS NULL AS keep, dup_of FROM lab
    """


@query("incremental_dedup_convergence", oracle=_incremental_oracle())
def incremental_dedup_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (operators/incremental_dedup.py),
    value-oracled: ingest documents as 3 sequential batches
    (doc_id % 3) against a fresh persisted band-bucket state and
    return every document's (keep, dup_of, batch) label. The DuckDB
    oracle replays the identical semantics — portable signature
    arithmetic, first-wins history (earlier-batch SURVIVORS only),
    batch-internal min-label connected components — so the
    O(batch + collisions) incremental composition is pinned to its
    specification, not merely to a Python replica. State lives in a
    fresh local temp dir per call (the production deployment points
    state_path at shared storage; tests/test_incremental_dedup.py
    covers replay idempotence and the foreachBatch streaming wiring).
    Generalizes reference O18 (latest-per-key dedup,
    /root/reference/task.ts:131-149) to cross-batch near-dup identity.
    """
    from etl_inreach_spark.operators.incremental_dedup import incremental_dedup

    d = load_table(spark, sf_dir, "documents")
    state = os.path.join(_scratch("incdedup"), "state")
    parts = []
    for k in range(3):
        batch = d.filter(F.col("doc_id") % 3 == k)
        lab = incremental_dedup(
            spark,
            batch,
            state,
            batch_id=f"b{k}",
            shingle_k=9,
        )
        parts.append(lab.withColumn("batch", F.lit(k)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("doc_id", "batch", "keep", "dup_of")


def _incremental_semantic_oracle() -> str:
    """The ONE-SHOT SemDeDup oracle (same quantizer CTEs as
    semantic_dedup_embeddings — nlist=16, tau=0.3), extended with the
    min-matching-id dup_of and the id-range batch label. That the
    one-shot SQL oracles a 3-BATCH incremental Spark run IS the
    convergence theorem being pinned: min-id-wins over id-monotone
    batches equals the one-shot verdict
    (operators/incremental_semantic.py, module contract)."""
    from etl_inreach_spark.operators.similarity import (
        PORTABLE_A,
        PORTABLE_B,
        PORTABLE_M,
    )

    return f"""
    WITH cent AS (
        SELECT row_number() OVER (ORDER BY _h, _cid) AS cell, cvec FROM (
            SELECT ({PORTABLE_A} * vec_id + {PORTABLE_B}) % {PORTABLE_M} AS _h,
                   vec_id AS _cid, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings ORDER BY 1, 2 LIMIT 16
        )
    ),
    asg AS (
        SELECT vec_id, embedding, cell,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), cvec) DESC,
                            cell ASC
               ) AS crn
        FROM embeddings, cent
    ),
    casg AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, cell
             FROM asg WHERE crn = 1),
    dropped AS (
        SELECT b.vec_id, min(a.vec_id) AS dup_of
        FROM casg a JOIN casg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= CAST(0.3 AS DOUBLE)
        GROUP BY b.vec_id
    ),
    bounds AS (SELECT min(vec_id) AS mn, max(vec_id) AS mx FROM embeddings)
    SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept, d.dup_of,
           CAST(CASE WHEN c.vec_id < mn + (mx - mn + 1) // 3 THEN 0
                     WHEN c.vec_id < mn + (2 * (mx - mn + 1)) // 3 THEN 1
                     ELSE 2 END AS INT) AS batch
    FROM casg c LEFT JOIN dropped d ON c.vec_id = d.vec_id, bounds
    """


@query(
    "incremental_semantic_dedup_convergence",
    oracle=_incremental_semantic_oracle(),
)
def incremental_semantic_dedup_convergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental semantic dedup
    (operators/incremental_semantic.py), value-oracled: ingest the
    embeddings table as 3 sequential ID-RANGE batches (thirds of
    [min, max] — id-monotone, the append-only-pipeline shape) against
    a fresh persisted per-cell state under a FROZEN portable
    quantizer, and return every vector's (cell, kept, dup_of, batch).
    The oracle is the ONE-SHOT SemDeDup SQL (the exact
    semantic_dedup_embeddings rule plus dup_of), so a green row IS
    the convergence theorem: 3 increments of one-cell-equi-join each
    reproduce the whole-corpus verdict bit for bit (VERDICT r10 item
    5). Each increment's work is O(batch x cell density) — the probe
    join against state — plus O(batch^2 / nlist) batch-internal
    pairs; nothing rescans previously ingested vectors' pairings.
    The quantizer is trained once on the full corpus here because
    the pin needs the one-shot's exact cells; production trains on
    the initial sample and freezes, which is the same contract.
    State lives in a fresh local temp dir per call (production
    points state_path at shared storage;
    tests/test_incremental_semantic.py covers replay idempotence and
    non-monotone divergence)."""
    from etl_inreach_spark.operators.incremental_semantic import (
        incremental_semantic_dedup,
    )
    from etl_inreach_spark.operators.similarity import portable_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    # LAZY checkpoint (r11): the first increment's state-append write
    # (via the broadcast build of the centroid side of its assignment
    # cross join) materializes this; an eager checkpoint was a
    # separate job for the same top-16 pass. Later increments read
    # the persisted 16 rows. (r12 measured the local-relation
    # alternative — collect once, re-issue via createDataFrame so the
    # per-increment centroid collects are driver-side — at +1 job and
    # ~+1 s warm over this form: the TakeOrdered+window collect it
    # re-runs per invocation costs more than the three cheap
    # checkpoint-scan collects it saves. Kept the checkpoint.)
    cent = portable_centroids(emb, 16).localCheckpoint(eager=False)
    r = emb.agg(
        F.min("vec_id").alias("mn"), F.max("vec_id").alias("mx")
    ).collect()[0]  # 1-row bounds decision (the library's bounded-collect class)
    span = int(r["mx"]) - int(r["mn"]) + 1
    b1 = int(r["mn"]) + span // 3
    b2 = int(r["mn"]) + (2 * span) // 3
    state = os.path.join(_scratch("incsem"), "state")
    parts = []
    for k, (lo, hi) in enumerate(
        [(None, b1), (b1, b2), (b2, None)]
    ):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("vec_id") >= lo)
        if hi is not None:
            cond = cond & (F.col("vec_id") < hi)
        lab = incremental_semantic_dedup(
            spark,
            emb.filter(cond),
            cent,
            state,
            batch_id=f"b{k}",
            tau=0.3,
            # same inert-at-this-SF cap as the one-shot registered
            # query: exercises the per-cell sizing gate every
            # increment; a hot state cell at scale flips the probe
            # join to the bipartite salt with identical output
            max_cell_rows=4096,
        )
        parts.append(lab.withColumn("batch", F.lit(k)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("vec_id", "cell", "kept", "dup_of", "batch")


@query(
    "bucketed_join_revenue",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout parity gate (sinks/bucketed.py): write orders
    and customer bucketed+sorted on custkey, join THROUGH THE CATALOG
    TABLES (the path whose executed plan has zero shuffle Exchanges —
    pinned in tests/test_bucketed.py), and aggregate revenue per
    market segment. The oracle is the plain shuffled join: layout must
    never change answers. 100 TB shape: the bucket write pays the
    fact-table shuffle once; every recurring join/agg on the bucket
    key reads pre-shuffled buckets (pick the bucket count for the
    target cluster's parallelism, not the test's 8)."""
    from etl_inreach_spark.sinks.bucketed import bucketed_equijoin, write_bucketed

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    # external temp locations: the session catalog is in-memory but
    # the warehouse dir outlives it, and a managed saveAsTable into a
    # stale location hits LOCATION_ALREADY_EXISTS. Names are FIXED and
    # the tables are dropped as soon as the (eagerly analyzed) plan is
    # built — the resolved file relation keeps executing, and repeated
    # sweeps no longer accumulate catalog entries (ADVICE r7).
    base = _scratch("bucketed")
    lt, rt = "bjr_orders", "bjr_customer"
    for t in (lt, rt):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(o, lt, ["custkey"], 8, path=os.path.join(base, lt))
    write_bucketed(c, rt, ["custkey"], 8, path=os.path.join(base, rt))
    j = bucketed_equijoin(spark, lt, rt, ["custkey"])
    result = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )
    for t in (lt, rt):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return result


@query(
    "compaction_roundtrip_orders",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           1 AS n_files_after
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def compaction_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction invariance gate (operators/compaction.py):
    scatter orders into 32 undersized files, OPTIMIZE them back toward
    the target size, and aggregate the rewritten table. The oracle is
    the same aggregate over the ORIGINAL table plus the computed
    output-file count (total bytes < 1 GiB target -> exactly 1 file),
    so both content invariance AND the sizing arithmetic are
    value-pinned. The rewrite itself is shuffle-free (coalesce) — the
    property that makes OPTIMIZE affordable at 100 TB — and
    fixed-point convergence is pinned in tests/test_compaction.py."""
    from etl_inreach_spark.operators.compaction import compact_parquet

    path = os.path.join(_scratch("compact"), "orders")
    load_table(spark, sf_dir, "orders").repartition(32).write.mode(
        "overwrite"
    ).parquet(path)
    # derive the precondition from the ACTUAL write (repartition(32)
    # yields fewer files on a <32-row fixture) and raise explicitly —
    # a bare assert is stripped under `python -O` (ADVICE r7)
    n_written = sum(
        1
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    if not stats["compacted"] or stats["files_before"] != n_written:
        raise RuntimeError(
            f"compaction gate precondition broken: wrote {n_written} "
            f"files but compact_parquet saw {stats}"
        )
    back = spark.read.parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.count_distinct(F.col("o_orderkey")).alias("n_keys"),
        F.lit(stats["files_after"]).alias("n_files_after"),
    )


_MEDIA_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
    "media",
)


@query(
    "binary_media_metadata",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
           CAST(size AS BIGINT) AS length,
           CASE lower(regexp_extract(filename, '\\.([A-Za-z0-9]+)$', 1))
             WHEN 'png' THEN 'image/png'
             WHEN 'jpg' THEN 'image/jpeg'
             WHEN 'wav' THEN 'audio/x-wav'
             WHEN 'txt' THEN 'text/plain'
             ELSE NULL
           END AS mime,
           md5(decode(content)) AS content_md5
    FROM read_blob('{_MEDIA_FIXTURE_DIR}/*')
    """,
)
def binary_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile-source gate (sources/binary_media.py): scan the
    committed fixture directory (ASCII-byte blobs, so DuckDB's
    read_blob + decode() md5 hashes the identical bytes Spark's
    binary md5 sees — a straight BLOB->VARCHAR cast would hash the
    ESCAPED rendering, e.g. newline as the four characters \\x0A) and emit name/length/inferred-mime/content checksum.
    Pins the media-struct plumbing's observable contract — the scan
    distributes (one InputPartition batch per file group, no driver
    directory walk), mime inference is the deterministic extension
    map, and `length` comes from file status. The mtime column is
    deliberately excluded (not content-determined). Column pruning on
    metadata-only projections is plan-pinned in
    tests/test_binary_media.py."""
    from etl_inreach_spark.sources.binary_media import read_binary_media

    m = read_binary_media(spark, _MEDIA_FIXTURE_DIR)
    return m.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("fname"),
        "length",
        F.col("media.mime").alias("mime"),
        F.md5(F.col("media.bytes")).alias("content_md5"),
    )


@query(
    "schema_evolution_merge",
    oracle="""
    WITH unioned AS (
        SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT coalesce(o_orderpriority, '<pre-evolution>') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM unioned GROUP BY 1
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: a table directory whose early files
    predate a column (half of orders written WITHOUT o_orderpriority,
    the other half WITH it, as two append batches), read back with
    ``mergeSchema`` — Spark's footer-reconciled union schema fills the
    missing column with NULLs, exactly the ALTER TABLE ADD COLUMN
    contract of a lakehouse table. The oracle states that contract as
    a plain UNION ALL with a NULL literal. Aggregated per priority
    (pre-evolution rows grouped under a sentinel) so the NULL-fill,
    the row split, and the price totals are all value-pinned. 100 TB
    note: mergeSchema reads EVERY file footer at planning time — fine
    for an append-log's worth of files, wrong as a steady state; a
    production table records the schema in the table format's
    metadata (catalog/Delta/Iceberg), which is why the engine's own
    catalog tables (sinks/bucketed, sinks/upsert) carry their schema
    there instead."""
    path = os.path.join(_scratch("schemaevo"), "orders")
    o = load_table(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("append").parquet(path)
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_missing"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )

"""Extended-surface queries (BASELINE north star): text analysis,
dedup suite, similarity search, multimodal plumbing — over the
documents/embeddings tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.queries import query

# DuckDB rendering of the distinct-9-gram shingle set (matches
# operators.text_dedup.shingles_exploded at k=9). 9-char shingles give
# a large enough shingle universe for prefix filtering to prune (the
# 5-gram universe of this corpus is ~2k values — every shingle is
# frequent and every similarity join degenerates toward all-pairs).
_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(length(text)-8,0)),"
    " i -> substr(text, i, 9)))"
)


@query(
    "text_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id, n_chars,
               list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks,
               len(regexp_extract_all(text, '[.,!?;:]')) AS punct_cnt,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS subwords,
               list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
                   AS dtoks
        FROM documents
    )
    SELECT doc_id, n_chars,
           len(toks) AS n_tokens,
           subwords AS n_subwords,
           punct_cnt,
           CAST(len(list_intersect(dtoks, ['the','a','of','and','is'])) AS DOUBLE) / 5
               AS stopword_ratio,
           CAST(punct_cnt AS DOUBLE) / n_chars AS punct_ratio,
           0.3 * least(CAST(len(toks) AS DOUBLE) / 100, 1.0)
             + 0.4 * (1.0 - CAST(punct_cnt AS DOUBLE) / n_chars)
             + 0.3 * (CAST(len(list_intersect(dtoks, ['the','a','of','and','is'])) AS DOUBLE) / 5)
               AS quality_score
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token/subword/punctuation counts, stopword
    ratio, and a composite quality score — all built-in expressions
    (one narrow projection, no shuffle)."""
    from etl_inreach_spark.functions.text import (
        LANG_MARKERS,
        marker_hits,
        punct_count,
        subword_count,
        tokens,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    dtoks = F.array_distinct(toks)
    punct = punct_count(F.col("text"))
    stop_ratio = marker_hits(dtoks, LANG_MARKERS["en"]).cast("double") / F.lit(5)
    punct_ratio = punct.cast("double") / F.col("n_chars")
    n_tokens = F.size(toks)
    quality = (
        F.lit(0.3) * F.least(n_tokens.cast("double") / F.lit(100), F.lit(1.0))
        + F.lit(0.4) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * stop_ratio
    )
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        subword_count(F.col("text")).alias("n_subwords"),
        punct.alias("punct_cnt"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        quality.alias("quality_score"),
    )


@query(
    "lang_id_documents",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
                   AS dtoks
        FROM documents
    ), s AS (
        SELECT doc_id, lang,
               len(list_intersect(dtoks, ['the','a','of','and','is'])) AS s_en,
               len(list_intersect(dtoks, ['der','die','das','und','ist'])) AS s_de,
               len(list_intersect(dtoks, ['le','les','des','et','est'])) AS s_fr,
               len(list_intersect(dtoks, ['el','los','de','y','es'])) AS s_es,
               len(list_intersect(dtoks, ['de5','shi4','le5','zai4','he2'])) AS s_zh
        FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
             WHEN s_de > 0 AND s_de > s_en AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
             WHEN s_fr > 0 AND s_fr > s_en AND s_fr > s_de AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
             WHEN s_es > 0 AND s_es > s_en AND s_es > s_de AND s_es > s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_zh > 0 AND s_zh > s_en AND s_zh > s_de AND s_zh > s_fr AND s_zh > s_es THEN 'zh'
             ELSE 'und'
           END AS pred_lang
    FROM s
    """,
)
def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-overlap argmax, deterministic
    precedence tie-break)."""
    from etl_inreach_spark.functions.text import lang_id

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id(F.col("text")).alias("pred_lang"),
    )


@query(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp_md5,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, greatest(length(substr(text,1,200)),1)),
                                  i -> CAST(unicode(substr(substr(text,1,200), i, 1)) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007
           ) AS fp_rolling
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text + polynomial
    rolling hash of the first 200 chars (both engine-portable; the
    interpreted per-char fold measures FASTER here than an
    explode+groupBy closed form — a 200-element fold per row beats
    shuffling a million 1-char rows; see spark-perf notes)."""
    from etl_inreach_spark.functions.text import fingerprint_md5, rolling_hash

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp_md5"),
        rolling_hash(F.col("text")).alias("fp_rolling"),
    )


@query(
    "exact_dedup_documents",
    oracle="""
    SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS n_dups FROM (
        SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    ) GROUP BY fp
    """,
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: hash-groupBy, deterministic
    survivor (min doc_id). Partial-agg friendly — shuffle carries one
    row per distinct fingerprint."""
    from etl_inreach_spark.functions.text import fingerprint_md5

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


_DUCK_JACCARD_PAIRS = f"""
    WITH s AS (
        SELECT doc_id, length(text) AS tlen, {_DUCK_SHINGLES} AS sh
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        FROM s a JOIN s b
          ON a.doc_id < b.doc_id {{block}}
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.8
"""


@query(
    "near_dup_jaccard",
    oracle=_DUCK_JACCARD_PAIRS.format(block="AND abs(a.tlen - b.tlen) <= 32"),
)
def near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 9-gram-Jaccard near-dup pairs with length blocking
    (|len diff| <= 32; the blocking is part of the operator contract
    and mirrored in the oracle — PPJoin prefix+positional filtering
    keeps candidate generation sub-quadratic)."""
    from etl_inreach_spark.operators.text_dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, 0.8, length_block=32, shingle_k=9)


@query(
    "minhash_lsh_dedup",
    oracle=_DUCK_JACCARD_PAIRS.format(block=""),
)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified. The oracle
    is the UNBLOCKED all-pairs Jaccard — at k=64/b=16 the LSH miss
    probability at j >= 0.9 is ~1e-9, so LSH+verify equals brute force
    on this data while staying O(n) in candidates."""
    from etl_inreach_spark.operators.text_dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, shingle_k=9)


@query(
    "minhash_after_exact_dedup",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    ), surv AS (
        SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp
    ), docs AS (
        SELECT d.doc_id, d.text FROM documents d JOIN surv USING (doc_id)
    ), s AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM docs
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                   AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.8
    """,
)
def minhash_after_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB MinHash recipe PINNED as one value-oracled query
    (VERDICT r9 item 4): exact dedup first, LSH second. The r9 skew
    probe showed minhash_lsh_dedup on an identical-text clique is
    quadratic in its own true-pair OUTPUT — C(m,2) dist-0 pairs is
    what "find all near-dup pairs" MEANS on that input, so no
    candidate strategy can beat it; the remedy is to make the input
    sane: exact_dedup_documents' hash-groupBy collapses every
    identical-text clique to its min-id survivor (one shuffle row per
    distinct fingerprint), and LSH then runs on survivors where
    bucket sizes are back to the healthy near-dup regime. Same
    composition discipline as curation_gate_composed — each stage's
    relation shrinks to the previous stage's survivor set. The oracle
    replays fingerprint -> min-id survivors -> unblocked exact
    Jaccard (lossless vs LSH at this threshold, the
    minhash_lsh_dedup argument). The skew probe runs this composition
    against the planted 1,000-doc clique: pair output collapses from
    ~500k to the cross-stem residue (tools/skew_probe.py)."""
    from etl_inreach_spark.functions.text import fingerprint_md5
    from etl_inreach_spark.operators.text_dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))
    surv = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    docs = d.select("doc_id", "text").join(surv.select("doc_id"), "doc_id")
    return minhash_lsh_pairs(docs, shingle_k=9)


def _simhash_oracle() -> str:
    """Brute-force DuckDB rendering of the 60-bit portable SimHash:
    same 9-gram polynomial+affine hash (poly_gram_hash60_sql —
    generated from the SAME loop as the Spark Column), same
    frequency-weighted majority-bit sketch (gram MULTISET, no
    DISTINCT), all pairs at Hamming <= 3. The Spark side bands 60
    bits into 4x15 for blocking, which by pigeonhole is LOSSLESS for
    distance <= 3 — so banded Spark output == brute-force oracle
    output, exactly."""
    from etl_inreach_spark.operators.text_dedup import poly_gram_hash60_sql

    bits = 60
    bit_sums = ",\n           ".join(
        f"SUM((h >> {i}) & 1) AS c{i}" for i in range(bits)
    )
    sim = " + ".join(
        f"CASE WHEN c{i} * 2 > cnt THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    return f"""
    WITH grams AS (
        SELECT doc_id, {poly_gram_hash60_sql()} AS h
        FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, length(text) - 8),
                                         i -> substr(text, i, 9))) AS g
            FROM documents WHERE length(text) >= 9
        )
    ),
    bitsums AS (
        SELECT doc_id, COUNT(*) AS cnt,
           {bit_sums}
        FROM grams GROUP BY doc_id
    ),
    sims AS (SELECT doc_id, CAST({sim} AS BIGINT) AS sim FROM bitsums)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 3
    """


@query("simhash_near_dup", oracle=_simhash_oracle())
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3, banded blocking over a
    60-bit portable-hash sketch: 4 bands x 15 bits, lossless for
    d <= 3 by pigeonhole). The polynomial+affine gram hash makes the
    sketch value-reproducible in DuckDB, so this is a FULL value-hash
    oracle of sketch + banding + Hamming verify — not a rows-only
    check. (pytest additionally pins planted near-dup recall.)"""
    from etl_inreach_spark.operators.text_dedup import simhash_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d).withColumn("hamming", F.col("hamming").cast("bigint"))


@query(
    "embedding_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 8),
    scored AS (
        SELECT q.q_id, e.vec_id,
               list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
        FROM embeddings e, q WHERE e.vec_id != q.q_id
    )
    SELECT q_id, vec_id, rank, cos FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-5 cosine neighbors for 8 query vectors —
    broadcast the queries, one shuffle-free pass over the corpus, then
    a tiny per-query top-k window. Bit-identical to DuckDB's
    list_cosine_similarity over DOUBLE[] (sequential fold)."""
    from etl_inreach_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 8))


def _ann_lsh_oracle() -> str:
    """DuckDB rendering of the portable Rademacher-LSH top-k: same
    bucket bits (sequential-fold signed sums — see
    portable_lsh_bucket_sql), same radius-1 multi-probe, same
    list_cosine_similarity re-rank as embedding_topk's oracle."""
    from etl_inreach_spark.operators.similarity import portable_lsh_bucket_sql

    bucket = portable_lsh_bucket_sql()
    probe_list = ", ".join(["bucket"] + [f"xor(bucket, {1 << i})" for i in range(4)])
    return f"""
    WITH sig AS (
        SELECT vec_id, embedding,
               {bucket} AS bucket
        FROM embeddings
    ),
    probes AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
               unnest([{probe_list}]) AS bucket
        FROM sig WHERE vec_id < 8
    ),
    scored AS (
        SELECT p.q_id, s.vec_id,
               list_cosine_similarity(p.qv, CAST(s.embedding AS DOUBLE[])) AS cos
        FROM sig s JOIN probes p USING (bucket)
        WHERE s.vec_id != p.q_id
    )
    SELECT q_id, vec_id, rank, cos FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
    """


@query("ann_lsh_topk", oracle=_ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via hyperplane LSH (multi-probe radius 1,
    exact re-rank in buckets), in the portable-Rademacher-plane
    rendering whose buckets AND scores DuckDB reproduces bit-for-bit
    — a FULL value-hash oracle of signature + probing + re-rank.
    (Recall on these near-orthogonal embeddings is about the scan
    fraction; see operators/similarity.lsh_topk_portable.)"""
    from etl_inreach_spark.operators.similarity import lsh_topk_portable

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk_portable(emb, emb.filter(F.col("vec_id") < 8))


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           'text/plain' AS mime,
           length(text) AS n_bytes,
           unicode(substr(text, 1, 1)) AS first_byte,
           list_reduce(
               list_prepend(0, list_transform(generate_series(1, least(length(text), 64)),
                                              i -> unicode(substr(text, i, 1)))),
               (a, b) -> a + b
           ) % 997 AS byte_sum_mod
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: pack text bytes into the media
    struct convention (uri/mime/bytes/meta), run the Arrow-batched
    mapInPandas feature extractor (stub decoder). The oracle recomputes
    the byte features from the text directly (corpus is pure ASCII, so
    bytes == codepoints)."""
    from etl_inreach_spark.operators.multimodal import extract_features, media_struct

    d = load_table(spark, sf_dir, "documents")
    with_media = d.select(
        "doc_id",
        media_struct(
            F.concat(F.lit("mem://doc/"), F.col("doc_id")),
            F.lit("text/plain"),
            F.encode(F.col("text"), "UTF-8"),
            F.create_map(F.lit("lang"), F.col("lang")),
        ).alias("media"),
    )
    return extract_features(with_media)


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id, label,
           sqrt(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
               (a, b) -> a + b
           )) AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-kernel sanity surface: sequential-fold L2 norm per
    embedding (same fold order as the oracle => bit-exact)."""
    from etl_inreach_spark.functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label", l2_norm(F.col("embedding")).alias("l2_norm"))


@query(
    "embedding_cosine_dedup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
)
def embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, EXACT (cos >= 0.4): block-grid
    GEMM candidates + sequential-fold re-verification (bit-identical
    to the DuckDB oracle). The corpus is near-orthogonal, so 0.4 marks
    the far tail — a structure no bucketing can exploit, which is
    exactly when the grid join is the right scale pattern."""
    from etl_inreach_spark.operators.similarity import cosine_pairs_exact

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_exact(emb)


def _ann_ivf_oracle() -> str:
    """DuckDB rendering of the portable IVF top-k: hash-sampled
    centroids, argmax-cosine cell assignment (ties -> lowest cell),
    nprobe=4 probing, exact re-rank — all over the same sequential-fold
    cosine as embedding_topk's oracle."""
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
    casg AS (SELECT vec_id, embedding, cell FROM asg WHERE crn = 1),
    qasg AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv, cell
             FROM asg WHERE crn <= 4 AND vec_id < 8),
    scored AS (
        SELECT q.q_id, c.vec_id,
               list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[])) AS cos
        FROM casg c JOIN qasg q USING (cell)
        WHERE c.vec_id != q.q_id
    )
    SELECT q_id, vec_id, rank, cos FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
    """


@query("ann_ivf_topk", oracle=_ann_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via IVF (16-cell coarse quantizer,
    4-probe), in the portable rendering: centroids are the 16 corpus
    vectors minimizing a portable affine hash of vec_id (deterministic
    sampling init), assignment/probing/re-rank are argmax of the
    sequential-fold cosine — every stage reproduces bit-for-bit in the
    DuckDB oracle. (pytest pins recall at both nprobe extremes; the
    integer k-means trainer in operators/clustering.py is the refined
    quantizer.)"""
    from etl_inreach_spark.operators.similarity import ivf_topk_portable

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_portable(emb, emb.filter(F.col("vec_id") < 8), nprobe=4)


def _ivf_pq_oracle() -> str:
    """DuckDB replay of the portable IVF-PQ ADC search (VERDICT r7
    item 3): hash-sampled coarse cells (hash positions 1..16),
    hash-sampled RESIDUAL codebooks (positions 17..32 — the offset
    skips the cells' own all-zero residuals), L2 cell assignment and
    encode with (distance, code) ties, nprobe=2 probing, and
    fixed-point ADC (per-subspace distance floored onto the 2^30
    grid BEFORE the sum, so the total is an order-insensitive
    bigint). Every float expression is the same left fold as the
    Spark side."""
    from etl_inreach_spark.operators.similarity import (
        PORTABLE_A,
        PORTABLE_B,
        PORTABLE_M,
    )

    l2_64 = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(generate_series(1, 64),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))),"
        " (acc, x) -> acc + x)"
    )
    l2_sub = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(generate_series(1, 8),"
        " i -> ({r}[{m} * 8 + i] - {b}[i]) * ({r}[{m} * 8 + i] - {b}[i]))),"
        " (acc, x) -> acc + x)"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), hord AS (
        SELECT vec_id, v,
               row_number() OVER (
                   ORDER BY ({PORTABLE_A} * vec_id + {PORTABLE_B})
                            % {PORTABLE_M}, vec_id) AS hrn
        FROM e
    ), cellpick AS (
        SELECT hrn AS cell, v AS cellvec FROM hord WHERE hrn <= 16
    ), casg AS (
        SELECT vec_id, v, cell, cellvec FROM (
            SELECT e.vec_id, e.v, c.cell, c.cellvec,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       {l2_64.format(a='e.v', b='c.cellvec')} ASC,
                       c.cell ASC) AS rn
            FROM e, cellpick c
        ) WHERE rn = 1
    ), cres AS (
        SELECT vec_id, cell,
               list_transform(generate_series(1, 64),
                              i -> v[i] - cellvec[i]) AS res
        FROM casg
    ), bookpick AS (
        SELECT hrn - 16 AS code, vec_id FROM hord
        WHERE hrn > 16 AND hrn <= 32
    ), books AS (
        SELECT s.sub, b.code,
               list_slice(r.res, s.sub * 8 + 1, s.sub * 8 + 8) AS bvec
        FROM bookpick b
        JOIN cres r ON r.vec_id = b.vec_id
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
    ), enc AS (
        SELECT vec_id, cell, sub, code FROM (
            SELECT cr.vec_id, cr.cell, b.sub, b.code,
                   row_number() OVER (PARTITION BY cr.vec_id, b.sub
                       ORDER BY
                       {l2_sub.format(r='cr.res', m='b.sub', b='b.bvec')}
                           ASC, b.code ASC) AS rn
            FROM cres cr, books b
        ) WHERE rn = 1
    ), qprobe AS (
        SELECT vec_id AS q_id, cell,
               list_transform(generate_series(1, 64),
                              i -> v[i] - cellvec[i]) AS qres
        FROM (
            SELECT e.vec_id, e.v, c.cell, c.cellvec,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       {l2_64.format(a='e.v', b='c.cellvec')} ASC,
                       c.cell ASC) AS rn
            FROM e, cellpick c
            WHERE e.vec_id < 8
        ) WHERE rn <= 2
    ), dtab AS (
        SELECT q.q_id, q.cell, b.sub, b.code,
               CAST(floor(
                   {l2_sub.format(r='q.qres', m='b.sub', b='b.bvec')}
                   * 1073741824.0) AS BIGINT) AS dfp
        FROM qprobe q, books b
    ), adc AS (
        SELECT d.q_id, enc.vec_id, CAST(sum(d.dfp) AS BIGINT) AS adc_fp
        FROM enc JOIN dtab d
            ON enc.cell = d.cell AND enc.sub = d.sub AND enc.code = d.code
        GROUP BY 1, 2
    )
    SELECT q_id, vec_id, rank, adc_fp FROM (
        SELECT q_id, vec_id, adc_fp,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY adc_fp ASC, vec_id ASC) AS rank
        FROM adc
    ) WHERE rank <= 5
    """


@query("ivf_pq_adc_topk", oracle=_ivf_pq_oracle())
def ivf_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL IVF-PQ serving path (build -> probe -> ADC top-k),
    value-oracled in the portable rendering (VERDICT r7 item 3 — the
    trick that oracled ann_ivf_topk, now applied to residual PQ):
    16 hash-sampled coarse cells, 16-entry hash-sampled residual
    codebooks per subspace (zero Lloyd iterations; hash positions
    17..32 so the cells' own all-zero residuals never seed a book),
    8x8-dim subspaces, nprobe=2, and ADC distances accumulated in
    fixed point (floor(d * 2^30) per subspace BEFORE the sum) so the
    total is an order-insensitive bigint that DuckDB reproduces
    exactly. Query ids are corpus members and KEEP themselves in the
    result (the quantized self-distance is small but not zero) — the
    serving-path convention where exclusion is the caller's filter;
    ann_ivf_topk shows the excluded variant. The Lloyd-TRAINED
    quantizer stays the production default (ivf_pq_build iters>0),
    pinned against a straight-numpy replica in
    tests/test_sampling_pq.py — same plan shape, only the codebook
    values differ.

    Scale shape: identical to the production path — the index
    (1 cell int + 8 codes/vector) replaces raw vectors at search
    time, the per-query distance table is |Q|*nprobe*8*16 broadcast
    rows, candidates equi-join on (cell, sub, code), and the ADC sum
    is map-side combined; no raw corpus vector is touched at search
    time and no pairwise cross join ever forms."""
    from etl_inreach_spark.operators.pq import ivf_pq_build, ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cells, books, index = ivf_pq_build(
        emb, nlist=16, num_sub=8, ksub=16, iters=0, dim=64
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = ivf_pq_topk(
        index, cells, books, queries,
        k=5, nprobe=2, num_sub=8, dim=64, fp_bits=30,
    )
    return out.select(
        "q_id", "vec_id", "rank", F.col("adc_dist").alias("adc_fp")
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH frames AS (
        SELECT doc_id, text, length(text) AS n,
               unnest(generate_series(0, CAST(ceil(length(text) / 32.0) AS INT) - 1, 2))
                   AS frame_idx
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, frame_idx,
           least(32, n - frame_idx * 32) AS n_bytes,
           list_reduce(
               list_prepend(0, list_transform(
                   generate_series(frame_idx * 32 + 1,
                                   least(frame_idx * 32 + 32, n)),
                   i -> unicode(substr(text, i, 1)))),
               (a, b) -> a + b
           ) % 997 AS checksum
    FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over the media convention: every 2nd
    32-byte chunk becomes a frame row (1->N mapInPandas). The oracle
    recomputes chunk checksums from the text (pure-ASCII corpus, so
    bytes == codepoints)."""
    from etl_inreach_spark.operators.multimodal import media_struct, sample_frames

    d = load_table(spark, sf_dir, "documents")
    with_media = d.select(
        "doc_id",
        media_struct(
            F.concat(F.lit("mem://doc/"), F.col("doc_id")),
            F.lit("video/fake"),
            F.encode(F.col("text"), "UTF-8"),
        ).alias("media"),
    )
    return sample_frames(with_media)


@query(
    "cube_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 aggregation — CUBE grouping sets (all four subtotal
    combinations in one pass; Spark expands the cube map-side, one
    shuffle). Decimal-fold sums for order-insensitive exactness."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("decimal(18,4)")
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "catalog_row_counts",
    oracle="""
    SELECT 'region' AS table_name, count(*) AS n_rows FROM region
    UNION ALL SELECT 'nation', count(*) FROM nation
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    UNION ALL SELECT 'part', count(*) FROM part
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'documents', count(*) FROM documents
    UNION ALL SELECT 'embeddings', count(*) FROM embeddings
    """,
)
def catalog_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capability/catalog endpoint analog (reference O24,
    task.ts:34-58: the task advertises its schemas to the
    orchestrator): enumerate every registered table with its row count
    — the counts come from parquet footer statistics, no full scan."""
    from functools import reduce

    from etl_inreach_spark.catalog import TABLES

    parts = [
        load_table(spark, sf_dir, t)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(t).alias("table_name"), "n_rows")
        for t in TABLES
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


_DUCK_CLUSTERS = (
    # AS MATERIALIZED: sym references pairs twice and DuckDB inlines
    # CTEs by default, which would run the expensive all-pairs Jaccard
    # twice (~2x oracle wall)
    "WITH RECURSIVE pairs AS MATERIALIZED (\n"
    + _DUCK_JACCARD_PAIRS.format(block="AND abs(a.tlen - b.tlen) <= 32")
    + """
    ), sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ), nodes AS (
        SELECT DISTINCT a AS id FROM sym
    ), reach(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS doc_id,
           CAST(min(b) AS BIGINT) AS component,
           CAST(count(DISTINCT b) AS BIGINT) AS cluster_size
    FROM reach GROUP BY a
    """
)


@query("dedup_clusters", oracle=_DUCK_CLUSTERS)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> CLUSTERS: connected components over the exact
    near-dup pair relation (same blocked 9-gram Jaccard as
    near_dup_jaccard), labeling every clustered document with its
    canonical representative (min doc_id in the component) and the
    component size. The oracle computes the same components via a
    recursive transitive closure — feasible because duplicate
    clusters are tiny; the Spark side is the iterative min-label
    propagation that scales to corpus-size graphs
    (operators/dedup.connected_components)."""
    from etl_inreach_spark.operators.dedup import connected_components
    from etl_inreach_spark.operators.text_dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, 0.8, length_block=32, shingle_k=9)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("id").alias("doc_id"), "component", "cluster_size"
    )


@query("dedup_clusters_star", oracle=_DUCK_CLUSTERS)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as dedup_clusters — components over the exact
    blocked 9-gram Jaccard pair relation — computed by the LOG-DIAMETER
    escalation: alternating large-star/small-star contraction (Kiveris
    et al.; operators/dedup.connected_components_star) instead of
    min-label propagation. On this corpus's tiny clusters both
    converge fast; the star variant is the 100 TB path when duplicate
    CHAINS make component diameter (and thus propagation rounds)
    large, converging in O(log^2 n) rounds regardless of diameter.
    Value-oracled against the same recursive transitive closure, so
    the two CC algorithms are pinned equal on real data, not just in
    the property test."""
    from etl_inreach_spark.operators.dedup import connected_components_star
    from etl_inreach_spark.operators.text_dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, 0.8, length_block=32, shingle_k=9)
    comp = connected_components_star(pairs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("id").alias("doc_id"), "component", "cluster_size"
    )


@query(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           hex(CAST(substr(repeat(text, CAST(ceil(16.0 / length(text)) AS INT)), 1, 16)
                AS BLOB)) AS resized_hex
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing under the value gate: text bytes
    packed as media, resized 4x4 through the Arrow mapInPandas batch
    op (stub: payload cycled to width*height bytes — the
    deterministic stand-in for PIL). The oracle reproduces the cycled
    bytes themselves in SQL (pure-ASCII corpus: repeat+substr over
    text equals the byte cycling), so the whole payload is
    value-hashed, not just summary stats. The payload crosses the
    oracle gate HEX-ENCODED on both engines: the driver's pandas
    canonicalizer cannot sort raw bytearray cells (CORRECTNESS_r03
    err), so no oracle-gated query may output a BINARY column
    (guarded by tests/test_registry_order.py)."""
    from etl_inreach_spark.operators.multimodal import media_struct, resize_images

    d = load_table(spark, sf_dir, "documents")
    with_media = d.select(
        "doc_id",
        media_struct(
            F.concat(F.lit("mem://doc/"), F.col("doc_id")),
            F.lit("image/x-fake"),
            F.encode(F.col("text"), "UTF-8"),
        ).alias("media"),
    )
    return resize_images(with_media).select(
        "doc_id", "width", "height", F.hex(F.col("resized")).alias("resized_hex")
    )


@query(
    "triangle_count_copurchase",
    oracle="""
    WITH m AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM m a JOIN m b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
        SELECT x AS part_id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY part_id
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the part CO-PURCHASE graph
    (parts sharing an order — the classic triangle-counting domain).
    The bucket is the order key, whose fan-out is bounded by lineitems
    per order (<= 7 in TPC-H-shaped data), so edge count grows
    LINEARLY with orders while node count grows with parts — graph
    density falls as data scales, unlike a user/time co-occurrence
    graph which densifies toward a clique (an earlier rendering of
    this query OOMed at sf0.1 exactly that way). The Spark side runs
    the degree-ORIENTED edge-iterator with adjacency-array
    intersection (operators/graph.py — O(|E|^1.5) work, hub-safe,
    and only the actual triangles materialize); the oracle runs the
    plain id-ordered two-path closure, which finds the same triangles
    because every triangle has exactly one acyclic orientation under
    any total order."""
    from etl_inreach_spark.operators.graph import cooccurrence_edges, triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    m = li.select("l_orderkey", "l_partkey")
    # materialize the co-purchase edge build ONCE (r11): the triangle
    # pipeline references the edge subtree four times (degree seed's
    # two-sided union, the orientation join, the per-edge adjacency
    # probe), and an unmaterialized plan replays the distinct
    # self-join over lineitem for each — measured 4.9-5.3 -> 4.2 s
    # min-of-3 at sf0.1. Same discipline as connected_components /
    # neighbour_sets; the earlier "checkpoint measured slower" note
    # in operators/graph.py applies to the ORIENTED relation (cheap to
    # recompute from edges), not to the edge build itself.
    edges = cooccurrence_edges(m).localCheckpoint(eager=True)
    return triangle_counts(edges)


@query(
    "vocab_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x != '')) AS term
        FROM documents
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS term_freq,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM toks
    GROUP BY term
    ORDER BY term_freq DESC, term ASC
    LIMIT 200
    """,
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: top-200 terms by total frequency
    (deterministic tie-break on the term itself), with document
    frequency. explode + two-level hash agg (partial-agg friendly,
    shuffle ~ |vocab|); the global top-k plans as
    TakeOrderedAndProject (per-partition top-200 + driver merge), so
    no full sort ever materializes — the vocabulary-build shape a
    tokenizer-training pipeline runs at corpus scale."""
    from etl_inreach_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("term_freq").desc(), F.col("term").asc())
        .limit(200)
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x != '')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ), idf AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df,
           tf * (CAST(n_docs AS DOUBLE) / df) AS score
    FROM (
        SELECT doc_id, term, tf, df, n_docs,
               row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY tf * (CAST(n_docs AS DOUBLE) / df) DESC, term ASC
               ) AS rn
        FROM tf JOIN idf USING (term) CROSS JOIN n
    ) WHERE rn <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document with the LINEAR idf variant
    (score = tf * N/df): one IEEE division + one multiply, both
    correctly rounded, so Spark and DuckDB agree bit-for-bit — a log
    idf would hash-diverge on libm ULPs. Shape: two hash aggs (tf,
    df), a broadcast-able |vocab|-sized join back, a broadcast 1-row
    corpus count, and a per-doc top-k window (doc-bounded
    partitions). The per-(doc, term) relation is the scale carrier
    (~tokens), everything downstream is smaller."""
    from etl_inreach_spark.functions.text import tokens
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * (F.col("n_docs").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term").asc())
    return (
        tf.join(idf, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", "df", score.alias("score"))
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH el AS (
        SELECT vec_id, CAST(i AS BIGINT) - 1 AS dim,
               CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS u(i)
    ), sc AS (
        SELECT vec_id, MAX(abs(x)) AS scale FROM el GROUP BY vec_id
    )
    SELECT el.vec_id, dim,
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE CASE WHEN x < 0 THEN -floor(abs(x) / scale * 127 + 0.5)
                          ELSE floor(abs(x) / scale * 127 + 0.5) END
                END AS BIGINT) AS q,
           scale
    FROM el JOIN sc ON el.vec_id = sc.vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    absmax scale, q in [-127, 127]) — the storage/ANN compression step
    of an embedding pipeline, value-checked per ELEMENT. Rounding is
    spelled sign * floor(|x|/scale * 127 + 0.5): floor, abs, IEEE
    divide and multiply are all correctly rounded and identical across
    engines, where a builtin round() would hinge on each engine's
    tie policy. Shape: posexplode to a tall (vec, dim, x) relation
    (the scale carrier), one partial-agg groupBy for scales, one
    |vectors|-sized join back — no HOFs in the hot path, fully
    codegen."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "_x")
    ).select("vec_id", F.col("dim").cast("bigint").alias("dim"),
             F.col("_x").cast("double").alias("x"))
    sc = el.groupBy("vec_id").agg(F.max(F.abs(F.col("x"))).alias("scale"))
    mag = F.floor(F.abs(F.col("x")) / F.col("scale") * 127 + F.lit(0.5))
    q = (
        F.when(F.col("scale") == 0, F.lit(0))
        .when(F.col("x") < 0, -mag)
        .otherwise(mag)
        .cast("bigint")
    )
    return el.join(sc, "vec_id").select("vec_id", "dim", q.alias("q"), "scale")


_BM25_TERMS = ("spark", "window", "merge")


@query(
    "bm25_term_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x != '')) AS term
        FROM documents
    ), dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE term IN {_BM25_TERMS!r}
        GROUP BY doc_id, term
    ), df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
               ((n_docs - df + 0.5) / (df + 0.5))
                 * (CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                 AS score
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id, term, tf, dl, score,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY term
                   ORDER BY score DESC, doc_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 10
    """,
)
def bm25_term_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance search: top-10 documents per query term
    (k1=1.2, b=0.75) — the retrieval primitive of a RAG/search
    pipeline. The idf is the RATIONAL variant (N-df+0.5)/(df+0.5)
    without the usual ln(): every arithmetic step is then a correctly
    rounded IEEE op written in the identical order on both engines, so
    the score value-hashes exactly (the tfidf_top_terms lesson —
    libm log ULPs diverge across engines). Shape: the term filter
    lands BEFORE the tf aggregation so the per-(doc,term) carrier
    holds only query-term postings (|terms| * |docs| worst case, not
    |tokens|); doc lengths and the 1-row corpus stats broadcast; the
    final top-k is a per-term window over <= |docs| rows."""
    from etl_inreach_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # materialize the |docs|-sized length relation: dl feeds BOTH the
    # join and the 1-row corpus stats, and without a barrier each
    # consumer re-runs the full tokenize+explode subtree (the same
    # shared-subtree rule as shingles in operators/text_dedup — tf's
    # own filtered tokenization is then the only other pass). LAZY (r11):
    # the stats aggregate materializes it in-action
    dl = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
        .localCheckpoint(eager=False)
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    score = (
        ((F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
        * (tfd * F.lit(2.2))
        / (tfd + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (dld / F.col("avgdl"))))
    )
    w = Window.partitionBy("term").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        tf.join(df_, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "term", "tf", "dl", "score", "rank")
    )


@query(
    "walk3_centrality",
    oracle="""
    WITH m AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM m a JOIN m b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sym AS (
        SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), w1 AS (
        SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS walks FROM sym GROUP BY u
    ), w2 AS (
        SELECT s.u AS node, CAST(SUM(w.walks) AS BIGINT) AS walks
        FROM sym s JOIN w1 w ON w.node = s.v GROUP BY s.u
    ), w3 AS (
        SELECT s.u AS node, CAST(SUM(w.walks) AS BIGINT) AS walks
        FROM sym s JOIN w2 w ON w.node = s.v GROUP BY s.u
    )
    SELECT node AS part_id, walks FROM w3
    """,
)
def walk3_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-3 walk counts per node on the part co-purchase graph —
    the integer power-iteration skeleton (w_{i+1} = A @ w_i), i.e.
    eigenvector/PageRank centrality with the float damping stripped so
    every sum stays in bigint and the result is EXACT and
    engine-portable (a float PageRank would hash-diverge on summation
    order). The graph is built once as checkpointed per-part neighbour
    sets (operators/graph.neighbour_sets); the first two rounds read
    them alone, and the third joins the |V| neighbour rows to the
    |V|-row weight vector, explodes and sums with a partial aggregate
    keyed on node id (operators/graph.walk_counts)."""
    from etl_inreach_spark.operators.graph import neighbour_sets, walk_counts

    li = load_table(spark, sf_dir, "lineitem")
    return walk_counts(neighbour_sets(li.select("l_orderkey", "l_partkey")), 3)


@query(
    "embedding_argmax_arrow",
    oracle="""
    WITH el AS (
        SELECT vec_id,
               unnest(embedding) AS x,
               generate_subscripts(embedding, 1) - 1 AS idx
        FROM embeddings
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS dim,
           CAST(COUNT(*) FILTER (x > 0) AS BIGINT) AS n_pos,
           CAST(MIN(idx) FILTER (x = mx) AS BIGINT) AS argmax_idx
    FROM (SELECT *, MAX(x) OVER (PARTITION BY vec_id) AS mx FROM el)
    GROUP BY vec_id
    """,
)
def embedding_argmax_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface (the Arrow-NATIVE batch API — no pandas
    conversion at all): per-vector dimension count, positive-element
    count, and argmax index, computed straight off the Arrow
    ListArray's (offsets, values) buffers as numpy views. All outputs
    are integers and the only float ops are comparisons of stored
    float32 values (no arithmetic), so the result is exact on both
    engines; ties resolve to the LOWEST index (np.argmax first-hit ==
    the oracle's MIN(idx) over maximal positions). This is the API
    tier below mapInPandas for kernels where pandas object overhead
    matters; the plan is a single narrow mapInArrow pass, no shuffle."""
    import pyarrow as pa
    import numpy as np

    def argmax_batches(batches):
        for b in batches:
            vec_ids = b.column(0).to_numpy(zero_copy_only=False)
            emb = b.column(1)
            if isinstance(emb, pa.ChunkedArray):
                emb = emb.combine_chunks()
            offsets = emb.offsets.to_numpy(zero_copy_only=False).astype("int64")
            values = emb.values.to_numpy(zero_copy_only=False)
            dims = offsets[1:] - offsets[:-1]
            # NULL or empty embeddings (equal adjacent offsets) have no
            # argmax; the oracle's unnest simply omits them — drop the
            # rows HERE, before np.argmax would raise on an empty slice
            keep = dims > 0
            if not keep.all():
                vec_ids, dims = vec_ids[keep], dims[keep]
                starts, ends = offsets[:-1][keep], offsets[1:][keep]
            else:
                starts, ends = offsets[:-1], offsets[1:]
            n = len(vec_ids)
            if n == 0:
                continue
            if (dims == dims[0]).all() and (ends[:-1] == starts[1:]).all():
                mat = values[starts[0] : ends[-1]].reshape(n, dims[0])
                n_pos = (mat > 0).sum(axis=1).astype("int64")
                amax = np.argmax(mat, axis=1).astype("int64")
            else:  # ragged (or non-contiguous after drops) fallback
                n_pos = np.fromiter(
                    ((values[s:e] > 0).sum() for s, e in zip(starts, ends)),
                    dtype="int64", count=n,
                )
                amax = np.fromiter(
                    (np.argmax(values[s:e]) for s, e in zip(starts, ends)),
                    dtype="int64", count=n,
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(vec_ids, type=pa.int64()),
                    pa.array(dims.astype("int64"), type=pa.int64()),
                    pa.array(n_pos, type=pa.int64()),
                    pa.array(amax, type=pa.int64()),
                ],
                names=["vec_id", "dim", "n_pos", "argmax_idx"],
            )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInArrow(
        argmax_batches,
        "vec_id bigint, dim bigint, n_pos bigint, argmax_idx bigint",
    )


def _cms_oracle() -> str:
    """DuckDB rendering of the count-min sketch: each sketch row's
    cells are a plain GROUP BY over the identical affine position
    expression, the estimate the LEAST over the key's depth cells —
    deterministic given the fixed hash constants, so the whole sketch
    is value-hashable, unlike engine-internal HLL/KMV registers."""
    from etl_inreach_spark.operators.cms import cms_position_sql

    cells = ",\n    ".join(
        f"c{i} AS (SELECT {cms_position_sql('user_id', i, 1024)} AS pos, "
        f"CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1)"
        for i in range(4)
    )
    joins = "\n    ".join(
        f"LEFT JOIN c{i} ON c{i}.pos = {cms_position_sql('t.user_id', i, 1024)}"
        for i in range(4)
    )
    est = ", ".join(f"coalesce(c{i}.c, 0)" for i in range(4))
    return f"""
    WITH t AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS true_count
        FROM events GROUP BY user_id
        ORDER BY true_count DESC, user_id LIMIT 20
    ),
    {cells}
    SELECT t.user_id, t.true_count, least({est}) AS est_count
    FROM t
    {joins}
    """


@query("cms_user_event_counts", oracle=_cms_oracle())
def cms_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 x width 1024) over events.user_id,
    probed for the 20 highest-true-count users: (user_id, true_count,
    est_count), est >= true always, overestimate = cell collisions.
    Build is one narrow pass whose shuffle is bounded by the SKETCH
    size (map-side partial agg collapses to <= 4096 cells); probes are
    broadcast left joins, zero shuffle of the queried relation
    (operators/cms.py — the same bounded-relation discipline as
    operators/bloom.py, and the sketch geometry rides in schema
    metadata so a mismatched probe grid raises instead of
    miscounting)."""
    from etl_inreach_spark.operators.cms import cms_build, cms_estimate

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build(ev.select("user_id"), width=1024, depth=4)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("user_id").asc())
        .limit(20)
    )
    est = cms_estimate(sketch, top, width=1024, depth=4)
    return est.select("user_id", "true_count", "est_count")


@query(
    "fuzzy_name_pairs_edit1",
    oracle="""
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def fuzzy_name_pairs_edit1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-<=1 name pairs via FastSS deletion-neighborhood
    blocking (operators/fuzzy.py): each name explodes into its |s|+1
    delete-one variants keyed by xxhash64, candidates are an EQUI-join
    on the 8-byte variant key (provably no false negatives for
    distance <= 1), then the exact built-in levenshtein verifies. The
    oracle is the naive cross-join filter — O(n^2) levenshtein calls,
    fine at sf0.01, exactly what the blocking avoids at scale: Spark
    pays sum of per-variant-bucket |b|^2, buckets being names that
    agree everywhere but one position. max_bucket_rows salts a HOT
    bucket (a mass-duplicated name — r10 skew probe) into a
    triangular block grid so no task sees more than cap^2 candidate
    pairs — output identical by construction
    (tests/test_skew_cap.py), inert at test SFs (natural-name buckets
    are tiny)."""
    from etl_inreach_spark.operators.fuzzy import edit1_pairs

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pairs = edit1_pairs(cust, max_bucket_rows=256)
    return pairs.select(
        F.col("id_a").alias("custkey_a"),
        F.col("id_b").alias("custkey_b"),
        "dist",
    )


@query(
    "fuzzy_name_pairs_edit2",
    oracle="""
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE a.c_custkey <= 600 AND b.c_custkey <= 600
      AND levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def fuzzy_name_pairs_edit2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-<=2 name pairs — FastSS proper (VERDICT r10 item
    4): depth-2 deletion neighborhoods (delete up to TWO positions,
    |D_2(s)| ~ 1 + |s| + |s|(|s|-1)/2 variants) keyed by xxhash64,
    equi-join candidates (provably no false negatives for distance
    <= 2 — operators/fuzzy.py module docstring has the subsequence
    argument), then the BANDED exact levenshtein (threshold=2
    early-exit DP, O(k*|s|) per candidate) verifies. The oracle is
    the naive cross-join filter. The quadratic-in-|s| variant count
    is the documented price of k=2 — max_len=64 raises on misuse
    against long text, and max_bucket_rows=256 grid-caps hot buckets
    exactly as edit1 does (the depth-2 neighborhoods of a
    mass-duplicated name collide in FULL, so the cap matters MORE
    here; tests/test_skew_cap.py pins output identity). Two-edit
    typos are the first thing a record-linkage user asks after
    edit1 — task.ts-land callsign data routinely carries them.
    The custkey <= 600 slice bounds the RESULT, not the algorithm:
    zero-padded sequential TPC-H keys make dist<=2 output itself
    quadratically dense (measured: 4.08M verified pairs / 86 s at
    sf0.1 full-relation — every id pairs with every id differing in
    <= 2 digit positions), so an unsliced registration would
    benchmark output materialization, not blocking; the slice keeps
    60.7k pairs, and the operator's scale story is carried by the
    cap/identity tests and the skew probe."""
    from etl_inreach_spark.operators.fuzzy import edit2_pairs

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 600)
        .select("c_custkey", "c_name")
    )
    pairs = edit2_pairs(cust, max_bucket_rows=256)
    return pairs.select(
        F.col("id_a").alias("custkey_a"),
        F.col("id_b").alias("custkey_b"),
        "dist",
    )


def _semantic_dedup_oracle() -> str:
    """Same portable quantizer CTEs as the IVF oracle (nlist=16,
    nprobe=1), then the min-id survivor rule over in-cell pairs."""
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
        SELECT DISTINCT b.vec_id
        FROM casg a JOIN casg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= CAST(0.3 AS DOUBLE)
    )
    SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept
    FROM casg c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    """


@query("semantic_dedup_embeddings", oracle=_semantic_dedup_oracle())
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style CLUSTER-SCOPED semantic dedup (Abbas et al.):
    nearest-cell assignment under the portable 16-cell quantizer, then
    drop any vector with a smaller-id in-cell neighbor at cosine >=
    0.3 (p99 of this corpus's pair similarity — the synthetic
    embeddings are near-orthogonal, so 0.3 marks the duplicate tail).
    Output (vec_id, cell, kept) for the whole corpus. The pair search
    runs only WITHIN cells — sum_c |cell|^2 ~ n^2/nlist instead of the
    global n^2 of embedding_cosine_dedup — which is the shape that
    scales: size nlist so a cell fits one task. Every stage (centroid
    pick, argmax-cosine assignment, in-cell pair cosine, survivor
    rule) reproduces bit-for-bit in the DuckDB oracle.
    max_cell_rows salts a HOT cell into a triangular block grid so no
    single task ever sees more than max_cell_rows^2 pairs (r9 skew
    probe: a 92%-hot cell was a 50x straggler without it) — output
    identical by construction, inert at test SFs (cells ~30-300
    rows)."""
    from etl_inreach_spark.operators.similarity import semantic_dedup_cells

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_cells(emb, 0.3, nlist=16, max_cell_rows=4096)


@query(
    "heavy_hitters_lang",
    oracle="""
    WITH n AS (SELECT count(lang) AS n_total FROM documents)
    SELECT lang AS item,
           CAST(count(*) AS BIGINT) AS exact_count,
           (SELECT CAST(n_total AS BIGINT) FROM n) AS n_total
    FROM documents
    GROUP BY lang
    HAVING count(*) * 5 > (SELECT n_total FROM n)
    """,
)
def heavy_hitters_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-item detection WITHOUT a full-cardinality groupBy: a
    distributed Misra-Gries k=4 summary (operators/heavyhitters.py —
    per-partition Arrow-batched summaries, PODS'12 relational merge)
    proposes candidates, then ONE exact counting pass over just those
    candidates (broadcast semi join) emits the items with true count
    > n/(k+1). MG guarantees every such item survives the sketch for
    ANY partitioning, and the rescore makes the counts exact — so the
    output equals the plain GROUP BY / HAVING oracle deterministically
    while never shuffling the full key space (at 100 TB the groupBy
    shuffles billions of vocabulary keys; this shuffles P*k summary
    rows + |candidates| counts). k=4 < 5 distinct langs, so the
    eviction path of the sketch is genuinely exercised."""
    from etl_inreach_spark.operators.heavyhitters import heavy_hitters

    k = 4
    d = load_table(spark, sf_dir, "documents")
    cand = heavy_hitters(d, "lang", k=k).select(
        F.col("item"), F.col("n_total")
    )
    exact = (
        d.join(F.broadcast(cand), d["lang"] == cand["item"], "inner")
        .groupBy("item", "n_total")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return exact.filter(
        F.col("exact_count") * (k + 1) > F.col("n_total")
    ).select("item", "exact_count", "n_total")


# KMV set-operation parameters — shared by the Spark query and its
# DuckDB oracle (fold-first hash grammar, see operators/kmv.py).
_KMVO_K = 32
_KMVO_A = 1103515245
_KMVO_B = 12345
_KMVO_M = (1 << 31) - 1
_KMVO_H = (
    f"({_KMVO_A} * (((user_id % {_KMVO_M}) + {_KMVO_M}) % {_KMVO_M})"
    f" + {_KMVO_B}) % {_KMVO_M}"
)


@query(
    "kmv_corpus_overlap",
    oracle=f"""
    WITH ka AS (
        SELECT h FROM (SELECT DISTINCT {_KMVO_H} AS h FROM events
                       WHERE event_type = 'click')
        ORDER BY h LIMIT {_KMVO_K}
    ),
    kb AS (
        SELECT h FROM (SELECT DISTINCT {_KMVO_H} AS h FROM events
                       WHERE event_type = 'view')
        ORDER BY h LIMIT {_KMVO_K}
    ),
    km AS (
        SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
        ORDER BY h LIMIT {_KMVO_K}
    ),
    stats AS (
        SELECT (SELECT count(*) FROM ka) AS na,
               (SELECT max(h) FROM ka) AS ka_kth,
               (SELECT count(*) FROM kb) AS nb,
               (SELECT max(h) FROM kb) AS kb_kth,
               (SELECT count(*) FROM km) AS nm,
               (SELECT max(h) FROM km) AS km_kth,
               (SELECT count(*) FROM km
                WHERE h IN (SELECT h FROM ka)
                  AND h IN (SELECT h FROM kb)) AS in_both
    )
    SELECT
      CASE WHEN na >= {_KMVO_K}
           THEN {float(_KMVO_K - 1) * _KMVO_M} / ka_kth
           ELSE CAST(na AS DOUBLE) END AS distinct_a,
      CASE WHEN nb >= {_KMVO_K}
           THEN {float(_KMVO_K - 1) * _KMVO_M} / kb_kth
           ELSE CAST(nb AS DOUBLE) END AS distinct_b,
      CASE WHEN nm >= {_KMVO_K}
           THEN {float(_KMVO_K - 1) * _KMVO_M} / km_kth
           ELSE CAST(nm AS DOUBLE) END AS union_est,
      CASE WHEN nm > 0 THEN CAST(in_both AS DOUBLE) / nm
           ELSE 0.0 END AS jaccard_est,
      (CASE WHEN nm > 0 THEN CAST(in_both AS DOUBLE) / nm
            ELSE 0.0 END)
        * (CASE WHEN nm >= {_KMVO_K}
                THEN {float(_KMVO_K - 1) * _KMVO_M} / km_kth
                ELSE CAST(nm AS DOUBLE) END) AS intersect_est
    FROM stats
    """,
)
def kmv_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap ESTIMATION from two kilobyte sketches: KMV
    (k-minimum-values) sketches of the click-user and view-user sets
    merge into an exact sketch of their union (KMV's defining
    mergeability), and |K(A∪B) ∩ K(A) ∩ K(B)| / |K(A∪B)| is an
    unbiased Jaccard estimator (Beyer et al., SIGMOD 2007) — so
    union / Jaccard / intersection of two corpora come from one pass
    per corpus + constant-size array arithmetic, where the exact
    answer (contamination_check) needs a join between them. At 100 TB
    the sketches are per-corpus monoid state the incremental-MERGE
    sink maintains per batch. Portable fold-first hash grammar
    (operators/kmv.py) makes every estimate bit-identical on DuckDB;
    k=32 < |users|, so the ESTIMATOR path (k-1)*M/kth is exercised,
    not the exact-small-set fallback."""
    from etl_inreach_spark.operators.kmv import (
        kmv_set_estimates,
        kmv_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    sa = kmv_sketch(
        ev.filter(F.col("event_type") == "click"), F.col("user_id"), _KMVO_K
    )
    sb = kmv_sketch(
        ev.filter(F.col("event_type") == "view"), F.col("user_id"), _KMVO_K
    )
    return kmv_set_estimates(sa, sb, _KMVO_K)


# Morton interleave of (bc, bs) rendered as ANSI SQL: bit i (of 16) of
# bucket column j lands at output position 2*i + j (must mirror
# operators/zorder.zvalue at ZORDER_BITS = 16 exactly).
_ZKEY_SQL = " + ".join(
    f"((({b} >> {i}) & 1) << {i * 2 + j})"
    for j, b in enumerate(("bc", "bs"))
    for i in range(16)
)


@query(
    "zorder_locality_orders",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey,
               CAST(epoch(o_orderdate) AS BIGINT) AS o_secs
        FROM orders
    ),
    bounds AS (
        SELECT min(o_custkey) AS lc, max(o_custkey) AS hc,
               min(o_secs) AS ls, max(o_secs) AS hs
        FROM base
    ),
    kb AS (
        SELECT o_orderkey,
               CAST(floor(CAST((o_custkey - lc) * 65536 AS DOUBLE)
                          / (hc - lc + 1)) AS BIGINT) AS bc,
               CAST(floor(CAST((o_secs - ls) * 65536 AS DOUBLE)
                          / (hs - ls + 1)) AS BIGINT) AS bs
        FROM base, bounds
    )
    SELECT o_orderkey,
           {_ZKEY_SQL} AS zkey
    FROM kb
    """,
)
def zorder_locality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout pass (Delta/Iceberg OPTIMIZE ZORDER BY): the
    Morton code of (o_custkey, o_orderdate-epoch) that
    operators/zorder.zorder_repartition range-partitions by, so every
    output file carries a tight min-max envelope on BOTH columns and
    zonemap pruning serves custkey AND date predicates from one
    layout — the 100 TB table-maintenance operator (you cannot resort
    100 TB per query; you interleave once). All JVM scalar bit
    arithmetic constant-folded into one codegen stage (no UDF), one
    1-row bounds broadcast, one range shuffle; the code is a pure
    integer function of the row and the global bounds, so the oracle
    replays it bit-for-bit (floor over the double division — a raw
    double→bigint CAST truncates on Spark but rounds on DuckDB;
    tests/test_extended.py pins the locality win the layout exists
    for)."""
    from etl_inreach_spark.operators.zorder import zorder_repartition

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("bigint").alias("o_secs"),
    )
    z = zorder_repartition(o)
    return z.select("o_orderkey", F.col("_zvalue").alias("zkey"))


@query(
    "term_lift_pairs",
    oracle="""
    WITH dt AS (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x != '')) AS term
            FROM documents)
    ), dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM dt GROUP BY term HAVING COUNT(*) >= 2
    ), n AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents
    ), kept AS (
        SELECT dt.doc_id, dt.term, dfreq.df FROM dt JOIN dfreq USING (term)
    ), pairs AS (
        SELECT a.term AS term_a, b.term AS term_b,
               a.df AS df_a, b.df AS df_b,
               CAST(COUNT(*) AS BIGINT) AS df_ab
        FROM kept a JOIN kept b
          ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY 1, 2, 3, 4
        HAVING COUNT(*) >= 2
    )
    SELECT term_a, term_b, df_a, df_b, df_ab, n_docs,
           (1000000 * n_docs * df_ab) // (df_a * df_b) AS lift_ppm
    FROM pairs CROSS JOIN n
    """,
)
def term_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: document-level co-occurrence lift for every
    frequent term pair (lift > 1 <=> positive PMI), in exact ppm
    integers — no libm log ever touches the value gate (the lift is
    monotone in PMI, so thresholds/rankings are unchanged). The
    operator (operators/cooccur.py) applies the a-priori cut: terms
    are df-filtered BEFORE the per-doc pair self-join, so the
    quadratic blowup is bounded by frequent-terms-per-doc, and the
    pair join is a doc_id equi-join (co-partitioned shuffle), never a
    cross join. At 100 TB the post-min_df vocabulary broadcast-prunes
    the (doc, term) relation; all division is integer DIV (both
    engines truncate — every operand here is positive)."""
    from etl_inreach_spark.operators.cooccur import term_cooccurrence_lift

    d = load_table(spark, sf_dir, "documents")
    return term_cooccurrence_lift(d, min_df=2, min_pair_df=2)


@query(
    "bigram_lm_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS t
        FROM documents
    ), bigs AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ), cnt AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_big
        FROM bigs GROUP BY w1, w2
    ), pre AS (
        SELECT w1, CAST(SUM(c_big) AS BIGINT) AS c_pre FROM cnt GROUP BY w1
    ), model AS (
        SELECT w1, w2, c_big, c_pre FROM cnt JOIN pre USING (w1)
    ), scored AS (
        SELECT b.doc_id, (1000000 * m.c_big) // m.c_pre AS p_ppm
        FROM bigs b LEFT JOIN model m USING (w1, w2)
    ), agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(p_ppm) AS BIGINT) AS score_ppm_sum
        FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_bigrams, 0) AS n_bigrams,
           COALESCE(a.score_ppm_sum, 0) AS score_ppm_sum,
           CASE WHEN COALESCE(a.n_bigrams, 0) > 0
                THEN a.score_ppm_sum // a.n_bigrams
                ELSE 0 END AS mean_prob_ppm
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style 'does this text look like the corpus' LM filter
    with the probability kept RATIONAL: train a bigram MLE model on
    the corpus itself (two groupBys), score every document as the
    ppm-floored sum/mean of per-bigram p(w2|w1). Floor-then-sum makes
    each addend an exact bigint, so the aggregate is order-insensitive
    — identical on any partitioning and in the DuckDB replay. Bigram
    extraction is a narrow in-row zip (no shuffle, no UDF); scoring is
    one equi-join against the model relation, which shards by term
    pair at web scale. Every division is integer DIV on positive
    operands, so Spark's truncation and DuckDB's agree."""
    from etl_inreach_spark.operators.cooccur import bigram_lm_score

    d = load_table(spark, sf_dir, "documents")
    return bigram_lm_score(d)


def _km_round_sql(prev: str, r: str) -> str:
    """One unrolled integer Lloyd round as DuckDB CTEs: assignment
    under the centroid relation ``prev`` (argmin of |c|^2 - 2<q,c>,
    ties to the lowest cluster), int sums per (cluster, dim), and the
    exact floor((2s+n)/(2n)) grid re-entry — the remainder-subtraction
    form, because DuckDB ``//`` truncates toward zero on negatives
    while the trainer's Python ``//`` floors. Empty clusters keep the
    previous centroid via the LEFT JOIN."""
    return f"""
    scores{r} AS (
        SELECT v.vec_id, v.qv, c.cluster,
               list_sum(list_transform(c.cv, y -> y * y))
               - 2 * list_sum(list_transform(range(1, 1 + len(v.qv)),
                                             i -> v.qv[i] * c.cv[i])) AS score
        FROM q v, {prev} c
    ), asg{r} AS (
        SELECT vec_id, qv, cluster FROM (
            SELECT vec_id, qv, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY score, cluster) AS rn
            FROM scores{r}) WHERE rn = 1
    ), upd{r} AS (
        SELECT cluster, i AS dim,
               CAST(SUM(qv[i]) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM asg{r}, UNNEST(range(1, 1 + len(qv))) AS u(i)
        GROUP BY cluster, i
    ), cents{r} AS (
        SELECT p.cluster, COALESCE(nc.cv, p.cv) AS cv
        FROM {prev} p LEFT JOIN (
            SELECT cluster, list(comp ORDER BY dim) AS cv FROM (
                SELECT cluster, dim,
                       CAST(((2*s + n) - ((((2*s + n) % (2*n)) + (2*n)) % (2*n)))
                            // (2*n) AS BIGINT) AS comp
                FROM upd{r}) GROUP BY cluster) nc USING (cluster)
    )"""


@query(
    "kmeans_cluster_sizes",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings
    ), init AS (
        SELECT rn - 1 AS cluster, qv AS cv FROM (
            SELECT vec_id, qv,
                   row_number() OVER (
                       ORDER BY (1103515245 * vec_id + 12345) % 2147483647,
                                vec_id) AS rn
            FROM q) WHERE rn <= 8
    ), {_km_round_sql('init', '1')}, {_km_round_sql('cents1', '2')},
       {_km_round_sql('cents2', '3')}, {_km_round_sql('cents3', '4')},
    counts AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size
        FROM asg4 GROUP BY cluster
    )
    SELECT CAST(c.cluster AS BIGINT) AS cluster,
           COALESCE(ct.size, 0) AS size,
           CAST(list_sum(list_transform(range(1, 1 + len(c.cv)),
                                        j -> j * c.cv[j])) AS BIGINT)
               AS centroid_checksum
    FROM cents3 c LEFT JOIN counts ct USING (cluster)
    """,
)
def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed k-means, value-gated DESPITE being
    iterative: because every compared/accumulated quantity in
    operators/clustering.py is a 64-bit integer, a DuckDB replay of 3
    unrolled Lloyd rounds lands on the bit-identical model — the
    oracle proof that 'deterministic' is literal, not approximate (a
    float trainer such as pq_train could never pass this gate: its
    means depend on float-summation order). Fixed
    iters=3 (no convergence early-exit divergence: the integer grid
    is a fixed point once converged, so extra oracle rounds are
    no-ops), k=8 on the embeddings table. Output: per cluster, the
    member count under the FINAL centroids (a fourth assignment pass
    — the serving semantics) and a position-weighted centroid
    checksum. Spark side: max_iter bounded jobs, each one corpus scan
    with a k*d-row partial-agg shuffle; assignment is the vectorized
    Arrow int64 matmul; the k-row model relation joins broadcast."""
    from etl_inreach_spark.operators.clustering import kmeans_assign, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    model = kmeans_fit(emb, k=8, max_iter=3)
    counts = kmeans_assign(emb, model).groupBy("cluster").agg(
        F.count(F.lit(1)).alias("size")
    )
    cents = spark.createDataFrame(
        [
            (c, sum((j + 1) * int(v) for j, v in enumerate(row)))
            for c, row in enumerate(model.qcentroids)
        ],
        "cluster int, centroid_checksum long",
    )
    return cents.join(F.broadcast(counts), "cluster", "left").select(
        F.col("cluster").cast("bigint").alias("cluster"),
        F.coalesce(F.col("size"), F.lit(0)).cast("bigint").alias("size"),
        F.col("centroid_checksum").cast("bigint").alias("centroid_checksum"),
    )


def _lloyd_round_oracle(rounds: int = 1) -> str:
    """DuckDB replay of ``rounds`` float spherical-Lloyd rounds
    (VERDICT r7 item 3 / r8 item 4: pin the float trainer's round
    semantics the way kmeans_cluster_sizes pinned the integer
    trainer): portable-hash centroid init, per-vector unit
    normalization (one sqrt + one divide — both correctly rounded,
    identical cross-engine), argmax sequential-fold-cosine
    assignment, and the update step's sufficient statistics rendered
    on the 2^30 fixed-point grid (floor BEFORE the sum, so the
    per-(cell, dim) totals are order-insensitive bigints).

    rounds=2 unrolls the composition: the round-1 fixed-point means
    become the round-2 centroids EXACTLY (mean_fp / 2^30 is a
    power-of-two division, so the double centroid coordinates are
    bit-identical in both engines — the unrolled-CTE pattern the
    integer trainer's kmeans_cluster_sizes oracle uses), closing the
    multi-round float-trainer gap that was previously pinned only by
    the numpy-parity pytest."""
    from etl_inreach_spark.operators.similarity import (
        PORTABLE_A,
        PORTABLE_B,
        PORTABLE_M,
    )

    prefix = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), u AS (
        SELECT vec_id,
               list_transform(v, x -> x / greatest(
                   sqrt(list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(v, y -> y * y)),
                       (acc, z) -> acc + z)),
                   1e-12)) AS uv
        FROM e
    ), cent AS (
        SELECT row_number() OVER (ORDER BY _h, _cid) AS cell, cv FROM (
            SELECT ({PORTABLE_A} * vec_id + {PORTABLE_B}) % {PORTABLE_M}
                       AS _h,
                   vec_id AS _cid, v AS cv
            FROM e ORDER BY 1, 2 LIMIT 16
        )
    ), asg AS (
        SELECT vec_id, uv, cell FROM (
            SELECT u.vec_id, u.uv, c.cell,
                   row_number() OVER (PARTITION BY u.vec_id
                       ORDER BY list_cosine_similarity(u.uv, c.cv) DESC,
                                c.cell ASC) AS rn
            FROM u, cent c
        ) WHERE rn = 1
    ), el AS (
        SELECT cell, d - 1 AS dim,
               CAST(floor(uv[d] * 1073741824.0) AS BIGINT) AS fp
        FROM asg, (SELECT unnest(generate_series(1, 64)) AS d)
    ), agg AS (
        SELECT cell, dim,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(fp) AS BIGINT) AS sum_fp
        FROM el GROUP BY 1, 2
    )"""
    extra = (
        ""
        if rounds == 1
        else """, r1 AS (
        SELECT cell, dim, n_members, sum_fp,
               (sum_fp - ((sum_fp % n_members) + n_members) % n_members)
                   // n_members AS mean_fp
        FROM agg
    ), cent2 AS (
        SELECT cell,
               list(CAST(mean_fp AS DOUBLE) / 1073741824.0 ORDER BY dim)
                   AS cv
        FROM r1 GROUP BY cell
    ), asg2 AS (
        SELECT vec_id, uv, cell FROM (
            SELECT u.vec_id, u.uv, c.cell,
                   row_number() OVER (PARTITION BY u.vec_id
                       ORDER BY list_cosine_similarity(u.uv, c.cv) DESC,
                                c.cell ASC) AS rn
            FROM u, cent2 c
        ) WHERE rn = 1
    ), el2 AS (
        SELECT cell, d - 1 AS dim,
               CAST(floor(uv[d] * 1073741824.0) AS BIGINT) AS fp
        FROM asg2, (SELECT unnest(generate_series(1, 64)) AS d)
    ), agg2 AS (
        SELECT cell, dim,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(fp) AS BIGINT) AS sum_fp
        FROM el2 GROUP BY 1, 2
    )"""
    )
    final = "agg" if rounds == 1 else "agg2"
    return (
        prefix
        + extra
        + f"""
    SELECT cell, dim, n_members, sum_fp,
           (sum_fp - ((sum_fp % n_members) + n_members) % n_members)
               // n_members AS mean_fp
    FROM {final}
    """
    )


@query("kmeans_lloyd_round_update", oracle=_lloyd_round_oracle())
def kmeans_lloyd_round_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of spherical Lloyd k-means, value-oracled via its
    sufficient statistics: portable-hash init (16 cells), unit
    normalization, argmax-cosine assignment, and the update step's
    per-(cell, dim) member count + fixed-point coordinate sum — each
    element floored onto the 2^30 grid BEFORE aggregation, so the
    sums are exact order-insensitive integers (a float F.avg would
    depend on summation order). mean_fp uses the remainder-subtraction
    floor form — sums can be negative, where Spark div truncates but
    DuckDB // floors.

    Scale shape: identical to the production round — one broadcast
    assignment pass over the corpus, one (cell, dim)-keyed partial
    aggregation whose shuffle carries nlist*dim rows per upstream
    partition, never the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _lloyd_finalize(_lloyd_fp_stats(_lloyd_assign_round1(emb)))


_LLOYD_GRID = 1073741824.0  # 2^30 fixed-point grid
_LLOYD_MEAN_FP = (
    "(sum_fp - ((sum_fp % n_members) + n_members) % n_members)"
    " div n_members"
)


def _lloyd_unit(emb: DataFrame) -> DataFrame:
    from etl_inreach_spark.functions.vectors import l2_norm

    return emb.select(
        "vec_id",
        F.col("embedding").alias("_v"),
        F.greatest(l2_norm(F.col("embedding")), F.lit(1e-12)).alias("_n"),
    ).select(
        "vec_id",
        F.transform(
            F.col("_v"), lambda x: x.cast("double") / F.col("_n")
        ).alias("_uv"),
    )


def _lloyd_assign_round1(emb: DataFrame) -> DataFrame:
    from etl_inreach_spark.operators.similarity import (
        _nearest_cells,
        portable_centroids,
    )

    return _nearest_cells(_lloyd_unit(emb), portable_centroids(emb, 16), 1, "_uv")


def _lloyd_fp_stats(asg: DataFrame) -> DataFrame:
    el = asg.select(
        "cell",
        F.posexplode("_uv").alias("dim", "_x"),
    ).select(
        "cell",
        "dim",
        F.floor(F.col("_x") * F.lit(_LLOYD_GRID)).alias("fp"),
    )
    return el.groupBy("cell", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("fp").alias("sum_fp"),
    )


def _lloyd_finalize(agg: DataFrame) -> DataFrame:
    return agg.select(
        "cell",
        F.col("dim").cast("bigint").alias("dim"),
        "n_members",
        "sum_fp",
        F.expr(_LLOYD_MEAN_FP).alias("mean_fp"),
    )


@query("kmeans_lloyd_round2_update", oracle=_lloyd_round_oracle(rounds=2))
def kmeans_lloyd_round2_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO composed rounds of spherical Lloyd k-means,
    value-oracled (VERDICT r8 item 4 — the unrolled-CTE pattern
    kmeans_cluster_sizes uses for the integer trainer, applied to the
    float one): round 1's exact fixed-point sufficient statistics
    become round 2's centroids via mean_fp / 2^30 — a power-of-two
    division, so the double centroid coordinates are BIT-IDENTICAL in
    Spark and DuckDB and the cross-round composition carries no float
    ambiguity at all. Round 2 then re-assigns every unit vector by
    argmax sequential-fold cosine (cell-asc ties) against the derived
    centroids and emits the same exact statistics shape. One round AND
    the round-to-round handoff are both cross-engine value-pinned.

    Scale shape: per round, one broadcast assignment pass over the
    corpus and one (cell, dim)-keyed partial aggregation; the
    round-2 centroid relation is nlist rows built from the nlist*dim
    statistics — broadcast back, never a corpus shuffle. Empty cells
    simply vanish from the statistics (no centroid row), exactly as
    the production trainer drops them."""
    from etl_inreach_spark.operators.similarity import _nearest_cells

    emb = load_table(spark, sf_dir, "embeddings")
    r1 = _lloyd_fp_stats(_lloyd_assign_round1(emb)).withColumn(
        "mean_fp", F.expr(_LLOYD_MEAN_FP)
    )
    cent2 = r1.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean_fp"))),
            lambda s: s["mean_fp"].cast("double") / F.lit(_LLOYD_GRID),
        ).alias("_cvec")
    )
    asg2 = _nearest_cells(_lloyd_unit(emb), cent2, 1, "_uv")
    return _lloyd_finalize(_lloyd_fp_stats(asg2))


@query(
    "hilbert_key_orders",
    oracle="""
    WITH RECURSIVE base AS (
        SELECT o_orderkey, o_custkey,
               CAST(epoch(o_orderdate) AS BIGINT) AS o_secs
        FROM orders
    ), bounds AS (
        SELECT min(o_custkey) AS lc, max(o_custkey) AS hc,
               min(o_secs) AS ls, max(o_secs) AS hs
        FROM base
    ), kb AS (
        SELECT o_orderkey,
               CAST(floor(CAST((o_custkey - lc) * 256 AS DOUBLE)
                          / (hc - lc + 1)) AS BIGINT) AS x,
               CAST(floor(CAST((o_secs - ls) * 256 AS DOUBLE)
                          / (hs - ls + 1)) AS BIGINT) AS y
        FROM base, bounds
    ), hil AS (
        SELECT o_orderkey, x, y, CAST(0 AS BIGINT) AS d,
               CAST(128 AS BIGINT) AS s
        FROM kb
        UNION ALL
        SELECT o_orderkey,
               CASE WHEN ry = 0
                    THEN (CASE WHEN rx = 1 THEN s - 1 - y ELSE y END)
                    ELSE x END,
               CASE WHEN ry = 0
                    THEN (CASE WHEN rx = 1 THEN s - 1 - x ELSE x END)
                    ELSE y END,
               d + s * s * xor(3 * rx, ry),
               s // 2
        FROM (SELECT o_orderkey, x, y, d, s,
                     CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END AS rx,
                     CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END AS ry
              FROM hil WHERE s > 0)
    )
    SELECT o_orderkey, d AS hkey FROM hil WHERE s = 0
    """,
)
def hilbert_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout key (Databricks liquid-clustering's curve:
    unit-step locality means contiguous key ranges have tight bounding
    boxes WHEREVER file boundaries fall, unlike Morton's corner-to-
    corner jumps — measured in operators/zorder.py: sampled-boundary
    Hilbert reads 0.24/0.24 fractions with even file sizes where
    sampled Morton pays 0.32 or unbounded skew). The per-bit rotation
    recurrence is inherently sequential, so the Spark plan does NOT
    unroll it into a codegen-blowing CASE tree: the bucket->code map
    is data-independent and exhaustive at bits=8 (65,536 cells), built
    driver-side in microseconds and broadcast-hash-joined onto the
    min-max-bucketized fact — no UDF, no fact shuffle. The oracle
    replays the recurrence per row with a recursive CTE (8 rotation
    steps), pinned equal to the driver lookup over the full 256x256
    grid — so the broadcast-LUT plan and the sequential recurrence are
    provably the same function."""
    from etl_inreach_spark.operators.zorder import with_hilbert

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("bigint").alias("o_secs"),
    )
    return with_hilbert(o).select(
        "o_orderkey", F.col("_hvalue").alias("hkey")
    )


@query(
    "rrf_hybrid_retrieval",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x != '')) AS term
        FROM documents
    ), dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE term = 'spark' GROUP BY doc_id
    ), dfreq AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS df FROM tf
    ), lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY
                   ((n_docs - df + 0.5) / (df + 0.5))
                     * (CAST(tf AS DOUBLE) * 2.2)
                     / (CAST(tf AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                   DESC, doc_id ASC) AS BIGINT) AS rank_lex
        FROM tf JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN dfreq
    ), qd AS (
        SELECT list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5)
                             AS BIGINT)) AS qq
        FROM embeddings WHERE vec_id = 0
    ), sem AS (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY dot DESC, vec_id ASC)
                    AS BIGINT) AS rank_sem
        FROM (
            SELECT vec_id,
                   list_sum(list_transform(range(1, 1 + len(qv)),
                                           i -> qv[i] * qq[i])) AS dot
            FROM (SELECT vec_id,
                         list_transform(embedding,
                             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0
                                             + 0.5) AS BIGINT)) AS qv
                  FROM embeddings), qd)
    )
    SELECT COALESCE(l.doc_id, s.vec_id) AS doc_id,
           COALESCE(l.rank_lex, 0) AS rank_lex,
           COALESCE(s.rank_sem, 0) AS rank_sem,
           COALESCE(1000000 // (60 + l.rank_lex), 0)
             + COALESCE(1000000 // (60 + s.rank_sem), 0) AS rrf_ppm
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.vec_id
    ORDER BY rrf_ppm DESC, doc_id ASC
    LIMIT 20
    """,
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion, the RAG-serving primitive that merges
    a lexical and a semantic candidate list: BM25('spark') ranks from
    the documents table, exact integer inner-product ranks against the
    query embedding (vec_id 0, both sides on the 2^20 grid), fused by
    reciprocal-rank fusion (Cormack et al.) with the reciprocal
    floored to ppm — the OUTPUT is therefore all-integer (ranks and
    rrf_ppm), so the value gate never sees a float even though BM25
    scores doubles internally (both engines compute them in the
    identical IEEE op order, the bm25_term_search discipline, so the
    RANKS agree exactly). Docs outside one modality keep the other's
    contribution (FULL OUTER; missing rank floors that term to 0 via
    COALESCE). Scale shape: term filter before the tf agg; 1-row
    stats/df broadcast; the quantized query vector rides as one
    from_json literal (no join); the global rank windows are the
    candidate-list sizes (top-k-bounded in production serving), and
    the fusion join is candidate-sized, never corpus-sized."""
    import json as _json
    import math as _math

    from etl_inreach_spark.functions.text import tokens
    from etl_inreach_spark.operators.clustering import quantize_vectors
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # LAZY (r11): the stats aggregate materializes it in-action
    dl = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
        .localCheckpoint(eager=False)
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term") == "spark")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.agg(F.count(F.lit(1)).alias("df"))
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    score = (
        ((F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
        * (tfd * F.lit(2.2))
        / (tfd + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (dld / F.col("avgdl"))))
    )
    lex = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfreq))
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(score.desc(), F.col("doc_id").asc()))
            .cast("bigint")
            .alias("rank_lex"),
        )
    )

    qvec = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qq = [int(_math.floor(float(x) * 1048576.0 + 0.5)) for x in qvec]
    qlit = F.from_json(F.lit(_json.dumps(qq)), "array<bigint>")
    dot = F.aggregate(
        F.zip_with(quantize_vectors(e, 20), qlit, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    sem = e.select(
        "vec_id",
        F.row_number()
        .over(W.orderBy(dot.desc(), F.col("vec_id").asc()))
        .cast("bigint")
        .alias("rank_sem"),
    )

    rrf = F.coalesce(
        F.expr("1000000L DIV (60 + rank_lex)"), F.lit(0).cast("bigint")
    ) + F.coalesce(F.expr("1000000L DIV (60 + rank_sem)"), F.lit(0).cast("bigint"))
    return (
        lex.join(sem, lex["doc_id"] == sem["vec_id"], "full_outer")
        .select(
            F.coalesce(lex["doc_id"], sem["vec_id"]).alias("doc_id"),
            F.coalesce(F.col("rank_lex"), F.lit(0).cast("bigint")).alias("rank_lex"),
            F.coalesce(F.col("rank_sem"), F.lit(0).cast("bigint")).alias("rank_sem"),
            rrf.alias("rrf_ppm"),
        )
        .orderBy(F.col("rrf_ppm").desc(), F.col("doc_id").asc())
        .limit(20)
    )


def _pagerank_oracle() -> str:
    """Unrolled integer-PageRank oracle (the kmeans_cluster_sizes
    pattern: the DuckDB CTE chain replays every fixed-point iteration
    bit-for-bit; `//` == Spark `div` because all operands are
    non-negative)."""
    head = """
    WITH m AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM m a JOIN m b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sym AS (
        SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), deg AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg
    ), r0 AS (
        SELECT d.u, CAST(1048576 AS BIGINT) // n.n AS rank FROM deg d, n
    )"""
    steps = "".join(
        f""", r{i + 1} AS (
        SELECT s.v AS u,
               CAST((CAST(3 AS BIGINT) * 1048576) // (20 * n.n)
                    + (17 * SUM(r.rank // d.deg)) // 20 AS BIGINT) AS rank
        FROM sym s
        JOIN r{i} r ON r.u = s.u
        JOIN deg d ON d.u = s.u
        CROSS JOIN n
        GROUP BY s.v, n.n
    )"""
        for i in range(3)
    )
    return head + steps + "\n    SELECT u AS part_id, CAST(rank AS BIGINT) AS rank_scaled FROM r3"


@query("pagerank3_copurchase", oracle=_pagerank_oracle())
def pagerank3_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d = 17/20) after 3 power iterations on the
    part co-purchase graph, in exact fixed-point integer arithmetic —
    the damped/normalized completion of walk3_centrality (which is
    this loop with the degree division and damping stripped). Every
    division is an explicit floor on the 2^20 grid, so ranks are
    bit-identical on any cluster/partitioning and the oracle replays
    all three iterations verbatim — the same literal-determinism
    proof as kmeans_cluster_sizes, applied to an iterative graph
    algorithm. See operators/graph.py:pagerank_integer for the
    per-iteration plan: the per-part neighbour sets are checkpointed
    once (operators/graph.neighbour_sets), the first iteration reads
    them alone, and each later one joins the |V| neighbour rows to the
    |V|-row rank vector and sums the exploded contributions with a
    node-keyed partial aggregate; N is a literal read at build time."""
    from etl_inreach_spark.operators.graph import neighbour_sets, pagerank_integer

    li = load_table(spark, sf_dir, "lineitem")
    return pagerank_integer(neighbour_sets(li.select("l_orderkey", "l_partkey")))


_JL_K = 16  # projected dims
_JL_D = 64  # embedding dims (the synthetic table's fixed width)


def _jl_signs() -> list[list[int]]:
    """Deterministic +-1 projection matrix from the registry's Knuth
    hash — sign(d, j) = +1 iff ((d*K + j) * 2654435761) mod 2^32 is
    below 2^31. Generated ONCE here and embedded as literals in both
    the Spark expressions and the oracle SQL, so the two renderings
    cannot drift and neither engine evaluates the hash at runtime."""
    return [
        [
            1 if ((d * _JL_K + j) * 2654435761) % (1 << 32) < (1 << 31) else -1
            for j in range(_JL_K)
        ]
        for d in range(_JL_D)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    q = (
        "list_transform(embedding, x -> CAST(CASE WHEN sc = 0 THEN 0 "
        "WHEN CAST(x AS DOUBLE) < 0 "
        "THEN -floor(abs(CAST(x AS DOUBLE)) / sc * 127 + 0.5) "
        "ELSE floor(abs(CAST(x AS DOUBLE)) / sc * 127 + 0.5) END AS BIGINT))"
    )
    projs = ",\n           ".join(
        "CAST(list_sum(list_transform(generate_series(1, {d}), "
        "i -> q[i] * ([{s}])[i])) AS BIGINT) AS p{j}".format(
            d=_JL_D, j=j, s=",".join(str(signs[d][j]) for d in range(_JL_D))
        )
        for j in range(_JL_K)
    )
    return f"""
    WITH sc AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS sc,
               embedding
        FROM embeddings
    ), qv AS (
        SELECT vec_id, {q} AS q FROM sc
    )
    SELECT vec_id,
           {projs}
    FROM qv
    """


@query("embedding_project_jl", oracle=_jl_oracle())
def embedding_project_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection of the embedding table
    to 16 dimensions with a deterministic +-1 sign matrix — the
    dimensionality-reduction front of an ANN/semantic-dedup pipeline
    (project first, THEN bucket: LSH/IVF over 16 dims costs 4x less
    shuffle than over 64). Values are EXACT end-to-end: the input is
    the registry's symmetric int8 absmax quantization (same rounding
    spelled sign*floor(|x|/scale*127+0.5) as embedding_quantize_int8)
    and each projected component is an integer dot product with a +-1
    vector — no float accumulation anywhere, so any summation order
    agrees and the oracle matches bit-for-bit. Plan: one narrow
    SELECT, all HOFs over the row's own array (zip_with + aggregate
    folds), zero shuffles and zero joins — at 100 TB this is a pure
    map stage that composes with the IVF/PQ operators downstream."""
    signs = _jl_signs()
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.withColumn(
        "_sc",
        F.array_max(F.transform(F.col("embedding"), lambda v: F.abs(v.cast("double")))),
    )
    mag = lambda v: F.floor(F.abs(v.cast("double")) / F.col("_sc") * 127 + F.lit(0.5))  # noqa: E731
    x = x.withColumn(
        "_q",
        F.transform(
            F.col("embedding"),
            lambda v: F.when(F.col("_sc") == 0, F.lit(0))
            .when(v.cast("double") < 0, -mag(v))
            .otherwise(mag(v))
            .cast("bigint"),
        ),
    )
    # Arrow matmul for the projection (r11, guide §4.2): the 16
    # per-row folds are interpreted HOFs (~2M lambda evals at sf0.1,
    # the whole second of this query); the values are pure int64
    # arithmetic (|q| <= 127, 64 terms -> |p| <= 8128), EXACT under
    # any summation order, so one numpy int64 matmul per batch is
    # value-identical by construction — no IEEE-order replay needed,
    # unlike the float assignment paths in operators/similarity.
    # Vector contract as in similarity._nearest_cells (ADVICE r11):
    # embeddings are non-NULL equal-length arrays; np.vstack fails
    # the task on a malformed corpus rather than NULL-propagating.
    smat = np.asarray(signs, dtype=np.int64)  # (_JL_D, _JL_K)
    out_schema = ", ".join(f"p{j} bigint" for j in range(_JL_K))

    @F.pandas_udf(out_schema)
    def _project(q: pd.Series) -> pd.DataFrame:
        if q.empty:
            return pd.DataFrame({f"p{j}": pd.Series([], dtype="int64") for j in range(_JL_K)})
        p = np.vstack(q.to_numpy()).astype(np.int64, copy=False) @ smat
        return pd.DataFrame({f"p{j}": p[:, j] for j in range(_JL_K)})

    return x.select("vec_id", _project(F.col("_q")).alias("_p")).select(
        "vec_id", *[F.col(f"_p.p{j}").alias(f"p{j}") for j in range(_JL_K)]
    )


@query(
    "embedding_standardize",
    oracle="""
    WITH el AS (
        SELECT vec_id, CAST(i AS BIGINT) - 1 AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 4096 + 0.5)
                    AS BIGINT) AS q
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS u(i)
    ), st AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(sum(q * q) AS BIGINT) AS ss
        FROM el GROUP BY dim
    )
    SELECT el.vec_id, el.dim, el.q,
           CASE WHEN st.n * st.ss - st.s * st.s <= 0 THEN 0
                ELSE CAST(floor((el.q * st.n - st.s) * 1048576.0
                     / sqrt(CAST(st.n * st.ss - st.s * st.s AS DOUBLE)))
                     AS BIGINT)
           END AS z_fp
    FROM el JOIN st USING (dim)
    """,
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus z-scoring of the embedding column — the
    feature-standardization step in front of clustering / linear
    probes — value-checked per element, bit-identical across engines.
    Components quantize once to the global 2^12 grid (floor(x*4096 +
    0.5): round-half-up, exact float64, the clustering.py
    convention); per-dim mean and variance then live entirely in
    int64 (n, S=sum q, SS=sum q^2 — exact, order-free, partial-agg
    mergeable), and the z-score is the single expression
    floor((q*n - S) * 2^20 / sqrt(n*SS - S^2)): one correctly-rounded
    IEEE multiply, sqrt, divide and floor over integers that are
    exact in double, so both engines produce the identical 2^20
    fixed-point value. A zero-variance dimension standardizes to 0.

    Scale shape: posexplode to the tall (vec, dim, q) relation, ONE
    groupBy over exactly |dims| keys (map-side partials collapse each
    task to 64 rows), the 64-row stats relation broadcasts back onto
    the tall relation — no second data shuffle, fully codegen, no
    HOF in the hot path. int64 bounds: |q| <= 4096*|x|, SS-sums
    overflow only past ~2^63/q^2 rows per dimension (~5e11 at |x|~1
    — past that, widen to DECIMAL(38,0) partials). The tall layout is
    deliberate: at 100 TB the stats pass reads the one column it
    needs and the rebuild-to-array form stays a downstream choice."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "_x")
    ).select(
        "vec_id",
        F.col("dim").cast("bigint").alias("dim"),
        F.floor(F.col("_x").cast("double") * 4096 + F.lit(0.5))
        .cast("bigint")
        .alias("q"),
    )
    st = el.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("ss"),
    )
    var_num = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    z = F.when(var_num <= 0, F.lit(0).cast("bigint")).otherwise(
        F.floor(
            (F.col("q") * F.col("n") - F.col("s"))
            * F.lit(1048576.0)
            / F.sqrt(var_num.cast("double"))
        ).cast("bigint")
    )
    return el.join(F.broadcast(st), "dim").select(
        "vec_id", "dim", "q", z.alias("z_fp")
    )


_PHRASE = ("hash", "join")


@query(
    "phrase_match_positional",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, t.term, t.i FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x != '')) AS term,
                   unnest(generate_series(1,
                       len(list_filter(string_split_regex(text, '\\s+'),
                                       x -> x != '')))) AS i
            FROM documents
        ) t(doc_id, term, i)
        WHERE t.term IN {_PHRASE!r}
    )
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(a.i) AS BIGINT) AS first_pos
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id AND b.i = a.i + 1
    WHERE a.term = '{_PHRASE[0]}' AND b.term = '{_PHRASE[1]}'
    GROUP BY a.doc_id
    """,
)
def phrase_match_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search — the inverted-index-with-positions
    primitive BM25 cannot express: find every document containing the
    exact token sequence 'hash join' (adjacent positions), with match
    count and first 1-based position. The positional posting relation
    is built ONLY for the phrase's terms (the term filter lands
    before any aggregation, the bm25_term_search lesson), so the
    self-join is |postings(hash)| x |postings(join)| keyed on the
    fixed-width (doc_id, pos) pair — never |tokens|^2. An n-token
    phrase chains n-1 such equi-joins (or one window over the
    filtered postings sorted per doc). At 100 TB the postings for a
    single term are the classic posting-list scale (skew mitigation:
    salt hot terms or pre-bucket by doc_id ranges); adjacency keys
    are integers, no string re-comparison after the initial filter."""
    from etl_inreach_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    post = (
        d.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("p", "term"))
        .filter(F.col("term").isin(*_PHRASE))
        # 1-based positions to match the oracle's generate_series
        .select("doc_id", "term", (F.col("p") + 1).cast("bigint").alias("i"))
    )
    a = post.filter(F.col("term") == _PHRASE[0]).select("doc_id", "i")
    b = post.filter(F.col("term") == _PHRASE[1]).select(
        "doc_id", (F.col("i") - 1).alias("i")
    )
    return (
        a.join(b, ["doc_id", "i"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("i").alias("first_pos"),
        )
    )


@query(
    "source_centroid_similarity",
    oracle="""
    WITH el AS (
        SELECT d.source, CAST(i AS BIGINT) - 1 AS dim,
               CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 4096 + 0.5)
                    AS BIGINT) AS q
        FROM embeddings e
        JOIN documents d ON d.doc_id = e.vec_id,
        unnest(generate_series(1, len(e.embedding))) AS u(i)
    ), sv AS (
        SELECT source, dim, CAST(sum(q) AS BIGINT) AS s
        FROM el GROUP BY source, dim
    ), norms AS (
        SELECT source, CAST(sum(s * s) AS BIGINT) AS ss FROM sv GROUP BY source
    ), dots AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(sum(a.s * b.s) AS BIGINT) AS num
        FROM sv a JOIN sv b ON a.dim = b.dim AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT d.src_a, d.src_b,
           CAST(floor((CAST(d.num AS DOUBLE) * 1048576)
                / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))))
                AS BIGINT) AS cos_fp
    FROM dots d
    JOIN norms na ON na.source = d.src_a
    JOIN norms nb ON nb.source = d.src_b
    """,
)
def source_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level semantic audit: pairwise cosine similarity between
    each source's embedding CENTROID — the corpus-mixture diagnostic
    that says which sources are semantically redundant before
    sampling weights are chosen. The mean-vector cosine equals the
    SUM-vector cosine (the 1/n scalars cancel), so per-(source, dim)
    int64 sums of 2^12-quantized components are the whole sufficient
    statistic: dots and norms are exact integer aggregates, and the
    only float math is the final floor((num*2^20)/(sqrt(ssa)*
    sqrt(ssb))) — correctly-rounded IEEE ops in the identical order
    on both engines, bit-identical on the 2^20 fixed-point grid.

    Scale shape: the tall quantized relation aggregates to
    |sources| x |dims| rows (map-side partials; the embeddings join
    to doc->source is key-bounded), the pairwise dot is a self-join
    on dim over that TINY relation (|sources|^2 x |dims| worst case,
    sources are a catalog not a data column), and norms broadcast.
    At 100 TB the per-(source,dim) partial sums are still the only
    thing that crosses the wire — int64 holds to ~6e12 docs/source
    at |q|<=1430 before DECIMAL(38,0) widening."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings")
    el = (
        emb.join(docs, emb["vec_id"] == docs["doc_id"])
        .select(
            "source", F.posexplode("embedding").alias("dim", "_x")
        )
        .select(
            "source",
            F.col("dim").cast("bigint").alias("dim"),
            F.floor(F.col("_x").cast("double") * 4096 + F.lit(0.5))
            .cast("bigint")
            .alias("q"),
        )
    )
    # LAZY checkpoint (r11): sv is |sources| x |dims| (tiny) but its
    # build is the corpus-sized join+explode+agg, and it is referenced
    # three times below (norms, side a, side b) — unmaterialized, the
    # plan replays that corpus pass per reference (30-Exchange tree).
    # The lazy checkpoint computes it once at execution without an
    # extra build job.
    sv = el.groupBy("source", "dim").agg(F.sum("q").alias("s")).localCheckpoint(
        eager=False
    )
    norms = sv.groupBy("source").agg(
        F.sum(F.col("s") * F.col("s")).alias("ss")
    )
    a = sv.select(
        F.col("source").alias("src_a"), "dim", F.col("s").alias("sa")
    )
    b = sv.select(
        F.col("source").alias("src_b"), "dim", F.col("s").alias("sb")
    )
    dots = (
        a.join(b, ["dim"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("num"))
    )
    na = norms.select(F.col("source").alias("src_a"), F.col("ss").alias("ssa"))
    nb = norms.select(F.col("source").alias("src_b"), F.col("ss").alias("ssb"))
    return (
        dots.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.floor(
                F.col("num").cast("double")
                * F.lit(1048576.0)
                / (F.sqrt(F.col("ssa").cast("double"))
                   * F.sqrt(F.col("ssb").cast("double")))
            )
            .cast("bigint")
            .alias("cos_fp"),
        )
    )


_FPS_K = 5  # number of seeds (bounded; the operator is k passes)


def _fps_oracle() -> str:
    """Unrolled farthest-point-traversal oracle: each round joins the
    quantized element relation against the single chosen vector and
    takes the (max min-distance, min vec_id) row."""
    parts = ["""
    WITH el AS MATERIALIZED (
        SELECT vec_id, CAST(i AS BIGINT) - 1 AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 4096 + 0.5)
                    AS BIGINT) AS q
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS u(i)
    ), c1 AS (SELECT CAST(min(vec_id) AS BIGINT) AS id FROM el)"""]
    prev_mind = None
    for r in range(2, _FPS_K + 1):
        d = f"d{r}"
        parts.append(f""",
    {d} AS MATERIALIZED (
        SELECT e.vec_id,
               CAST(sum((e.q - c.q) * (e.q - c.q)) AS BIGINT) AS dist
        FROM el e JOIN (
            SELECT dim, q FROM el
            WHERE vec_id = (SELECT id FROM c{r - 1})
        ) c ON c.dim = e.dim
        GROUP BY e.vec_id
    )""")
        if prev_mind is None:
            mind_expr = f"{d}.dist"
            join = f"FROM {d}"
        else:
            mind_expr = f"least({prev_mind}.mind, {d}.dist)"
            join = f"FROM {prev_mind} JOIN {d} USING (vec_id)"
        m = f"m{r}"
        parts.append(f""",
    {m} AS MATERIALIZED (
        SELECT vec_id, {mind_expr} AS mind {join}
    ), c{r} AS (
        SELECT CAST(vec_id AS BIGINT) AS id, mind FROM {m}
        WHERE vec_id NOT IN ({", ".join(f"(SELECT id FROM c{j})" for j in range(1, r))})
        ORDER BY mind DESC, vec_id ASC LIMIT 1
    )""")
        prev_mind = m
    picks = ["SELECT CAST(1 AS BIGINT) AS pick_idx, id AS vec_id, CAST(0 AS BIGINT) AS mind FROM c1"]
    for r in range(2, _FPS_K + 1):
        picks.append(
            f"SELECT CAST({r} AS BIGINT) AS pick_idx, id AS vec_id, mind FROM c{r}"
        )
    parts.append("\n" + "\nUNION ALL\n".join(picks))
    return "".join(parts)


@query("farthest_point_seeds", oracle=_fps_oracle())
def farthest_point_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic farthest-point traversal (k-center / k-means++
    style seeding, Gonzalez 1985): pick 5 maximally spread embedding
    vectors — the coreset/diversity-selection primitive of a
    training-data pipeline (seed centroids, diverse eval panels,
    dedup anchors). Round 1 takes the smallest vec_id; each later
    round takes the vector maximizing its min squared distance to
    the chosen set, ties to the smallest vec_id. All distances are
    exact int64 on the 2^12 quantized grid (the clustering.py
    convention), so the traversal is a pure function of the data —
    partition- and schedule-invariant, and the DuckDB oracle replays
    all rounds verbatim.

    Scale shape: k bounded passes; each round is one broadcast of
    the single chosen vector's 64 quantized components against the
    candidate relation (a map-side zip_with/aggregate fold — no
    shuffle) followed by a 1-row max-reduce. The running min-distance
    column rides along via localCheckpoint so round r never replays
    round r-1's work (the kmeans/graph iteration discipline). At
    100 TB each pass is scan-bound; k stays human-sized (5-100), and
    the HOF fold touches 64 ints per row per round — not a hot loop
    over candidates^2."""
    emb = load_table(spark, sf_dir, "embeddings")
    qarr = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 4096 + F.lit(0.5)).cast("bigint"),
    )
    cand = emb.select(
        F.col("vec_id").cast("bigint").alias("vec_id"), qarr.alias("qa")
    ).localCheckpoint(eager=False)

    def dist_to(chosen_col: str) -> F.Column:
        return F.aggregate(
            F.zip_with(
                F.col("qa"), F.col(chosen_col), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    first = cand.orderBy("vec_id").limit(1)
    picks = first.select(
        F.lit(1).cast("bigint").alias("pick_idx"),
        "vec_id",
        F.lit(0).cast("bigint").alias("mind"),
    )
    state = cand.crossJoin(
        F.broadcast(first.select(F.col("qa").alias("ca"),
                                 F.col("vec_id").alias("cid")))
    ).select(
        "vec_id", "qa", dist_to("ca").alias("mind"),
        (F.col("vec_id") == F.col("cid")).alias("taken"),
    ).localCheckpoint(eager=False)
    for r in range(2, _FPS_K + 1):
        best = (
            state.filter(~F.col("taken"))
            .orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .limit(1)
        )
        picks = picks.unionByName(
            best.select(
                F.lit(r).cast("bigint").alias("pick_idx"), "vec_id", "mind"
            )
        )
        if r < _FPS_K:
            state = state.crossJoin(
                F.broadcast(
                    best.select(F.col("qa").alias("ca"),
                                F.col("vec_id").alias("cid"))
                )
            ).select(
                "vec_id",
                "qa",
                F.least(F.col("mind"), dist_to("ca")).alias("mind"),
                (F.col("taken") | (F.col("vec_id") == F.col("cid"))).alias(
                    "taken"
                ),
            ).localCheckpoint(eager=False)
    return picks

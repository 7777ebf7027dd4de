"""Training-data assembly queries: sequence packing (concat-and-chunk
and next-fit bins), benchmark-contamination detection, and
Gopher-style repetition gating — the corpus-to-training-batches tail
of an LLM data pipeline, each value-oracled against DuckDB.

Packing determinism note: both packers are pure functions of
(doc_id, token_count) under a total doc_id order, so their output is
reproducible on any cluster/partitioning — and the next-fit recurrence
is exactly a recursive CTE, which is how DuckDB value-checks an
operator whose Spark implementation is an applyInPandas grouped map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.queries import query

# Portable whitespace token count (identical semantics both engines;
# same rendering as the quality_filter_pipeline oracle).
_DUCK_TOK = (
    "CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS BIGINT)"
)

_PACK_CAPACITY = 512
_PACK_BUCKETS = 16


@query(
    "seq_pack_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOK} AS tok FROM documents
    ), o AS (
        -- CAST: DuckDB's windowed SUM(BIGINT) yields HUGEINT, which the
        -- driver's pandas canonicalizer renders as float64 ("32.0" vs
        -- Spark's bigint "32") and the value hash diverges. Pin BIGINT
        -- here and on every derived column below.
        SELECT doc_id, tok,
               CAST(COALESCE(SUM(tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS tok_offset
        FROM t WHERE tok > 0
    )
    SELECT doc_id, tok AS n_tokens, tok_offset,
           CAST(tok_offset // {_PACK_CAPACITY} AS BIGINT) AS chunk_start,
           CAST((tok_offset + tok - 1) // {_PACK_CAPACITY} AS BIGINT) AS chunk_end,
           CAST((tok_offset + tok - 1) // {_PACK_CAPACITY}
             - tok_offset // {_PACK_CAPACITY} + 1 AS BIGINT) AS n_chunks
    FROM o
    """,
)
def seq_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing of the documents table into
    512-token context windows. The oracle states the spec (ONE global
    running sum); the Spark side computes the identical offsets with a
    two-level distributed prefix sum so no stage ever funnels the
    corpus through a single partition (see operators/packing.py)."""
    from etl_inreach_spark.functions.text import token_count
    from etl_inreach_spark.operators.packing import pack_chunks

    d = load_table(spark, sf_dir, "documents").withColumn(
        "_tokcnt", token_count(F.col("text"))
    )
    return pack_chunks(d, capacity=_PACK_CAPACITY)


@query(
    "seq_pack_bins",
    oracle=f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, doc_id % {_PACK_BUCKETS} AS bucket, tok,
               row_number() OVER (PARTITION BY doc_id % {_PACK_BUCKETS}
                                  ORDER BY doc_id) AS rn
        FROM (SELECT doc_id, {_DUCK_TOK} AS tok FROM documents)
        WHERE tok > 0
    ), pack AS (
        SELECT bucket, rn, doc_id, tok,
               CAST(1 AS BIGINT) AS bin_seq, tok AS bin_fill
        FROM t WHERE rn = 1
        UNION ALL
        SELECT d.bucket, d.rn, d.doc_id, d.tok,
               CASE WHEN p.bin_fill + d.tok <= {_PACK_CAPACITY}
                    THEN p.bin_seq ELSE p.bin_seq + 1 END,
               CASE WHEN p.bin_fill + d.tok <= {_PACK_CAPACITY}
                    THEN p.bin_fill + d.tok ELSE d.tok END
        FROM pack p JOIN t d ON d.bucket = p.bucket AND d.rn = p.rn + 1
    )
    SELECT doc_id, bucket, tok AS n_tokens, bin_seq, bin_fill FROM pack
    """,
)
def seq_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit bin packing (documents never split) into 512-token
    bins, 16 independent hash buckets packed in parallel via an
    Arrow-batched applyInPandas grouped map. The DuckDB oracle runs the
    same recurrence as a recursive CTE — a FULL value check on a
    non-relational (sequential) operator."""
    from etl_inreach_spark.functions.text import token_count
    from etl_inreach_spark.operators.packing import pack_bins_nextfit

    d = load_table(spark, sf_dir, "documents").withColumn(
        "_tokcnt", token_count(F.col("text"))
    )
    return pack_bins_nextfit(d, capacity=_PACK_CAPACITY, num_buckets=_PACK_BUCKETS)


_CHUNK_CAP = 128
_CHUNK_STRIDE = 96


@query(
    "doc_chunk_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS ts
        FROM documents
    ), s AS (
        SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n FROM t WHERE len(ts) > 0
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * {_CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(least({_CHUNK_CAP}, n - i * {_CHUNK_STRIDE}) AS BIGINT) AS n_tokens,
           array_to_string(
               ts[i * {_CHUNK_STRIDE} + 1 : i * {_CHUNK_STRIDE} + {_CHUNK_CAP}], ' '
           ) AS chunk_text
    FROM s, unnest(generate_series(0, (n - 1) // {_CHUNK_STRIDE})) AS u(i)
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: whitespace tokens windowed into
    128-token chunks every 96 tokens (32-token overlap), full chunk
    TEXT value-checked. Shuffle-free narrow plan — each row's chunks
    derive from that row alone (operators/chunking.py)."""
    from etl_inreach_spark.operators.chunking import chunk_tokens

    d = load_table(spark, sf_dir, "documents")
    return chunk_tokens(d, capacity=_CHUNK_CAP, stride=_CHUNK_STRIDE)


def _contamination_oracle() -> str:
    from etl_inreach_spark.operators.text_dedup import poly_gram_hash60_sql

    return f"""
    WITH grams AS (
        SELECT DISTINCT doc_id, {poly_gram_hash60_sql()} AS h
        FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, length(text) - 8),
                                         i -> substr(text, i, 9))) AS g
            FROM documents WHERE length(text) >= 9
        )
    ),
    bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 50 = 0),
    corpus AS (SELECT * FROM grams WHERE doc_id % 50 <> 0)
    SELECT c.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS contamination,
           CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) >= 0.5 AS contaminated
    FROM corpus c LEFT JOIN bench b ON c.h = b.h
    GROUP BY c.doc_id
    """


@query("contamination_check", oracle=_contamination_oracle())
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: every 50th document plays the eval set;
    each remaining document reports what fraction of its distinct
    9-gram hashes appear in the eval set. The eval gram set is
    broadcast (bounded by construction); grams travel as portable
    60-bit hashes so the DuckDB oracle reproduces them bit-for-bit."""
    from etl_inreach_spark.operators.corpus import contamination_ngrams

    d = load_table(spark, sf_dir, "documents")
    return contamination_ngrams(d, bench_pred=F.pmod(F.col("doc_id"), F.lit(50)) == 0)


@query(
    "repetition_profile",
    oracle="""
    WITH t2 AS (
        SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS ts
            FROM documents
        ) WHERE len(ts) >= 2
    ), wc AS (
        SELECT doc_id, n, w, COUNT(*) AS c
        FROM (SELECT doc_id, n, unnest(ts) AS w FROM t2)
        GROUP BY doc_id, n, w
    ), word_stats AS (
        SELECT doc_id, n, CAST(MAX(c) AS BIGINT) AS top,
               CAST(COUNT(*) AS BIGINT) AS uniq
        FROM wc GROUP BY doc_id, n
    ), bgu AS (
        SELECT doc_id, CAST(COUNT(DISTINCT bg) AS BIGINT) AS bguniq
        FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(ts) - 1),
                                         i -> ts[i] || ' ' || ts[i + 1])) AS bg
            FROM t2
        ) GROUP BY doc_id
    )
    SELECT w.doc_id, w.n AS n_tokens,
           CAST(w.top AS DOUBLE) / w.n AS top_word_frac,
           CAST(w.n - w.uniq AS DOUBLE) / w.n AS dup_word_frac,
           CAST(w.n - 1 - b.bguniq AS DOUBLE) / (w.n - 1) AS dup_2gram_frac,
           (CAST(w.top AS DOUBLE) / w.n <= 0.1
            AND CAST(w.n - 1 - b.bguniq AS DOUBLE) / (w.n - 1) <= 0.6) AS keep
    FROM word_stats w JOIN bgu b USING (doc_id)
    """,
)
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: top-word occupancy, duplicate-word
    fraction, duplicate-bigram fraction per document, and the keep
    decision (top_word_frac <= 0.1 AND dup_2gram_frac <= 0.6)."""
    from etl_inreach_spark.operators.corpus import repetition_profile as rp

    d = load_table(spark, sf_dir, "documents")
    return rp(d, "doc_id", "text", max_top_word_frac=0.1, max_dup_2gram_frac=0.6)


_BPE_MERGES = 8  # unrolled oracle rounds (kmeans-oracle precedent)


def _bpe_oracle() -> str:
    """DuckDB replay of bpe_train's first _BPE_MERGES merge rounds
    (operators/bpe.py), unrolled one CTE pair per round.

    The only non-trivial translation is merge APPLICATION. Spark runs
    a JVM-side fold that replaces adjacent (a, b) left-to-right
    non-overlapping; here each vocab word's symbol array is encoded as
    a SENTINEL-WRAPPED STRING — tab||sym||tab per symbol, so adjacent
    symbols meet as tab tab — and the fold becomes plain
    ``replace(s, tab||a||tab||tab||b||tab, tab||a||b||tab)``:
    SQL replace() is itself left-to-right non-overlapping, the merged
    token is strictly longer than ``a`` so it can never immediately
    re-merge (the fold's own argument), and the single-tab ends /
    double-tab middle of the pattern force every match to align to
    whole-symbol boundaries (a symbol like 'xa' cannot half-match an
    'a' pattern). Tab is whitespace, so it can never occur INSIDE a
    whitespace-split token — the encoding is collision-free by
    construction. Pair counting per round splits the encoded string
    back into symbols and zips adjacent slices, exactly the Spark
    side's zip_with; ties break on (pa, pb) binary string order in
    both engines."""
    ctes = ",".join(_bpe_round_ctes())
    return "WITH " + ctes + "\n    " + " UNION ALL ".join(
        f"SELECT {r} AS rank, pa AS \"left\", pb AS \"right\", "
        f"c AS weighted_count FROM b{r}"
        for r in range(_BPE_MERGES)
    )


def _bpe_round_ctes() -> list[str]:
    """The shared CTE chain: weighted vocab -> _BPE_MERGES rounds of
    (pair counts p{r}, argmax b{r}, merged vocab v{r+1}). ``word``
    rides through every v{r} so the final v{_BPE_MERGES} doubles as the
    word -> segmentation dictionary for the inference oracle."""
    t = "chr(9)"
    parts = [
        f"""
    words AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS wc FROM (
            SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x != '')) AS word
            FROM documents
        ) GROUP BY word
    ), v0 AS MATERIALIZED (
        SELECT word, wc,
               {t} || array_to_string(
                   list_transform(generate_series(1, length(word)),
                                  i -> substr(word, i, 1)),
                   {t} || {t}) || {t} AS s
        FROM words
    )"""
    ]
    for r in range(_BPE_MERGES):
        parts.append(f"""
    p{r} AS MATERIALIZED (
        SELECT pr[1] AS pa, pr[2] AS pb, CAST(sum(wc) AS BIGINT) AS c
        FROM (
            SELECT wc,
                   unnest(list_zip(list_slice(sy, 1, len(sy) - 1),
                                   list_slice(sy, 2, len(sy)))) AS pr
            FROM (
                SELECT wc,
                       string_split(substr(s, 2, length(s) - 2),
                                    {t} || {t}) AS sy
                FROM v{r}
            )
        ) GROUP BY pa, pb
    ), b{r} AS MATERIALIZED (
        SELECT pa, pb, c FROM p{r}
        ORDER BY c DESC, pa ASC, pb ASC LIMIT 1
    ), v{r + 1} AS MATERIALIZED (
        SELECT word, wc,
               replace(s,
                       {t} || (SELECT pa FROM b{r}) || {t} || {t}
                           || (SELECT pb FROM b{r}) || {t},
                       {t} || (SELECT pa FROM b{r})
                           || (SELECT pb FROM b{r}) || {t}) AS s
        FROM v{r}
    )""")
    return parts


@query("bpe_merge_sequence", oracle=_bpe_oracle())
def bpe_merge_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer induction (operators/bpe.py),
    value-oracled end-to-end: the first 8 learned merges — (rank,
    left, right, weighted_count) in application order — must equal a
    DuckDB replay of the per-round weighted-pair argmax with
    lexicographic tie-break and left-to-right non-overlapping merge
    application (VERDICT r6 item 6: the recursion does NOT explode
    because each round is one vocab-sized pair aggregation, so the
    oracle unrolls 8 rounds of CTEs instead of recursing). The corpus
    is scanned once for the weighted word vocabulary; every round
    after that touches only the Heaps-law-bounded vocab relation,
    with ONE 1-row driver collect per round — the scale shape that
    makes the trainer viable at 100 TB. MIN_PAIR_COUNT = 2 cannot bind
    at these SFs (top-8 pair counts are thousands), so the unrolled
    oracle always yields exactly 8 rows."""
    from etl_inreach_spark.operators.bpe import bpe_merges_df, bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges, _vocab = bpe_train(d, n_merges=_BPE_MERGES)
    return bpe_merges_df(spark, merges).select(
        "rank",
        "left",
        "right",
        "weighted_count",
    )


def _bpe_segment_oracle() -> str:
    """Inference-half oracle: the final merged vocab (the CTE after
    _BPE_MERGES rounds) from the SAME round chain is exactly the word -> subwords dictionary
    (training applies merges cumulatively; bpe_segment replays them in
    rank order per word — pinned equal in tests/test_bpe.py), so
    segmentation = tokenize each document in order, look every token
    up in that vocab, and splice the sub-symbol lists back together."""
    t = "chr(9)"
    ctes = ",".join(_bpe_round_ctes())
    return f"""WITH {ctes},
    dict AS MATERIALIZED (
        SELECT word,
               string_split(substr(s, 2, length(s) - 2), {t} || {t}) AS subs
        FROM v{_BPE_MERGES}
    ), toks AS (
        SELECT doc_id, tl[i] AS word, i
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x != '') AS tl
            FROM documents
        ), UNNEST(range(1, len(tl) + 1)) AS u(i)
    ), seg AS (
        SELECT t.doc_id,
               CAST(sum(len(d.subs)) AS BIGINT) AS n_subwords,
               string_agg(array_to_string(d.subs, ' '), ' ' ORDER BY t.i)
                   AS segmented
        FROM toks t JOIN dict d USING (word)
        GROUP BY t.doc_id
    )
    SELECT doc_id,
           coalesce(s.n_subwords, 0) AS n_subwords,
           coalesce(s.segmented, '') AS segmented
    FROM documents LEFT JOIN seg s USING (doc_id)
    """


@query("bpe_segment_documents", oracle=_bpe_segment_oracle())
def bpe_segment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE half of the BPE trainer, value-oracled: learn 8
    merges from the corpus (same distributed trainer as
    bpe_merge_sequence), then segment every document with the learned
    table via the Arrow-batched mapInPandas applier
    (operators/bpe.bpe_segment) — the sanctioned pandas-tier escape
    hatch for the inherently per-word-iterative merge replay, with
    per-batch word memoization riding the Zipf skew. Output is the
    space-joined subword stream per document (tokens contain no
    spaces, so the join is lossless) plus the subword count; the
    oracle derives the identical segmentation from the final merged
    vocab of the unrolled round chain. No shuffle in the apply stage:
    a narrow map over documents with the (tiny) merge table shipped
    in the closure — broadcast-state shape at 100 TB."""
    from etl_inreach_spark.operators.bpe import bpe_segment, bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges, _vocab = bpe_train(d, n_merges=_BPE_MERGES)
    seg = bpe_segment(d, merges)
    return seg.select(
        "doc_id",
        F.size("subwords").cast("bigint").alias("n_subwords"),
        F.array_join("subwords", " ").alias("segmented"),
    )


def _nb_quality_oracle(max_vocab: int | None = None) -> str:
    """DuckDB replay of the Naive-Bayes quality classifier: identical
    tokenization, identical Laplace-smoothed counts, and the SAME
    fixed-point integer log2 (ilog2_sql_cte_chain unrolls the
    repeated-squaring algorithm as chained projections — see its
    docstring for why a list_reduce fold is NOT safe here), so
    weights, prior, and every per-document score reproduce
    bit-for-bit. ``max_vocab`` replays nb_train's top-V frequency cut
    (ORDER BY c1+c0 DESC, term — the deterministic tie-break) before
    the smoothing totals, which are defined over the TRAINING
    vocabulary and therefore recomputed over the capped set."""
    from etl_inreach_spark.operators.nb_quality import ilog2_sql_cte_chain

    w_chain, w_fin = ilog2_sql_cte_chain(
        "wsrc", {"a": "xa", "b": "xb"}, "wl"
    )
    p_chain, p_fin = ilog2_sql_cte_chain(
        "psrc", {"p1": "d1", "p0": "d0"}, "pl"
    )
    cap_cte = (
        ""
        if max_vocab is None
        else """ cnt0 AS (
        SELECT term, CAST(sum(y) AS BIGINT) AS c1,
               CAST(sum(1 - y) AS BIGINT) AS c0
        FROM tr GROUP BY term
    ),"""
    )
    cnt_body = (
        """
        SELECT term, CAST(sum(y) AS BIGINT) AS c1,
               CAST(sum(1 - y) AS BIGINT) AS c0
        FROM tr GROUP BY term"""
        if max_vocab is None
        else f"""
        SELECT term, c1, c0 FROM cnt0
        ORDER BY c1 + c0 DESC, term LIMIT {max_vocab}"""
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS y,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x != '')) AS term
        FROM documents
    ), tr AS (
        SELECT * FROM toks WHERE doc_id % 3 != 0
    ), te AS (
        SELECT * FROM toks WHERE doc_id % 3 = 0
    ),{cap_cte} cnt AS ({cnt_body}
    ), tot AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c0) AS BIGINT) AS n0,
               CAST(count(*) AS BIGINT) AS v
        FROM cnt
    ), wsrc AS (
        SELECT term, (c1 + 1) * (n0 + v) AS xa, (c0 + 1) * (n1 + v) AS xb
        FROM cnt, tot
    ),
    {w_chain},
    w AS (
        SELECT term, l_a - l_b AS w_fp FROM {w_fin}
    ), psrc AS (
        -- doc-level priors (one row per doc, not the token stream)
        SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                    AS BIGINT) AS d0
        FROM documents WHERE doc_id % 3 != 0
    ),
    {p_chain},
    prior AS (
        SELECT l_p1 - l_p0 AS prior_fp FROM {p_fin}
    )
    SELECT te.doc_id,
           CAST(count(*) AS BIGINT) AS n_toks,
           max(te.y) AS y_true,
           CAST(p.prior_fp + sum(w.w_fp) AS BIGINT) AS score_fp,
           CAST(p.prior_fp + sum(w.w_fp) >= 0 AS BIGINT) AS pred
    FROM te JOIN w USING (term), prior p
    GROUP BY te.doc_id, p.prior_fp
    """


@query("nb_quality_train_score", oracle=_nb_quality_oracle())
def nb_quality_train_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEARNED quality-filter primitive (VERDICT r7 item 4): train
    a Laplace-smoothed multinomial Naive-Bayes classifier on 2/3 of
    the corpus (label: lang = 'en' — the CCNet setup of scoring text
    against a target-language distribution) and score the held-out
    third, ALL in exact integer arithmetic. Per-token weights and the
    class prior are fixed-point base-2 log-odds computed by the
    repeated-squaring ilog2_fp algorithm (operators/nb_quality.py) —
    no libm in either engine (the tfidf/Benford discipline), so the
    per-document score is an exact, order-insensitive bigint sum and
    DuckDB replays training AND scoring bit-for-bit.

    Composes with quality_filter_pipeline (heuristic gates) and
    bigram_lm_quality (perplexity gate) as the third, learned gate of
    a CCNet-style curation stack.

    Scale shape: training is one explode -> (term)-keyed partial agg
    (shuffle ~ |vocab|) + a broadcast 1-row totals relation + the
    unrolled 20-step integer-log projection chain over VOCAB rows
    only; scoring is explode -> broadcast model join -> (doc)-keyed
    partial-agg sum — the word-count shape. At 100 TB cap the vocab
    (top-V TakeOrdered, as vocab_top_terms) so the model relation
    stays broadcastable; int64 holds to ~3e9 training tokens per
    class (DECIMAL(38,0) beyond)."""
    return _nb_quality(spark, sf_dir, max_vocab=None)


def _nb_quality(
    spark: SparkSession, sf_dir: str, max_vocab: int | None
) -> DataFrame:
    from etl_inreach_spark.functions.text import tokens
    from etl_inreach_spark.operators.nb_quality import nb_score, nb_train

    d = load_table(spark, sf_dir, "documents")
    lab = d.select(
        "doc_id", (F.col("lang") == "en").cast("bigint").alias("y")
    )
    toks = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("bigint").alias("y"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    train = toks.filter(F.col("doc_id") % 3 != 0)
    test = toks.filter(F.col("doc_id") % 3 == 0)
    # priors and output labels come from the DOC-level relation (one
    # row per doc), never from explode-sized token aggregations
    weights, priors = nb_train(
        train,
        doc_labels=lab.filter(F.col("doc_id") % 3 != 0),
        max_vocab=max_vocab,
    )
    scored = nb_score(test, weights, priors)
    labels = lab.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.col("y").alias("y_true")
    )
    return scored.join(labels, "doc_id").select(
        "doc_id", "n_toks", "y_true", "score_fp", "pred"
    )


@query("nb_quality_capped_vocab", oracle=_nb_quality_oracle(max_vocab=16))
def nb_quality_capped_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPPED-vocabulary NB path under a cross-engine value oracle
    (VERDICT r9 item 5): same trainer/scorer as nb_quality_train_score
    but with ``max_vocab=16`` — a cap that BINDS at every test SF (the
    corpus vocabulary is 31 terms at all three), so the driver
    signature covers the 100 TB knob itself: the top-V TakeOrdered
    frequency cut with its deterministic (count DESC, term ASC)
    tie-break, the smoothing totals recomputed over the capped
    vocabulary, and the scoring join dropping now-OOV tokens. The
    DuckDB oracle replays the cut with ORDER BY c1+c0 DESC, term
    LIMIT 16 — any tie-break or totals drift between engines
    hash-fails. (tests/test_nb_quality.py additionally pins the capped
    path against the pure-Python replica.)"""
    return _nb_quality(spark, sf_dir, max_vocab=16)

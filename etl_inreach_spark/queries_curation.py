"""Corpus-curation queries: C4-style duplicate-span removal,
deterministic sampling (stratified rates + per-stratum reservoir),
training-mixture reweighting, and a Python UDTF surface query — the
corpus-shaping stage of an LLM data pipeline, each value-oracled
against DuckDB.

Determinism discipline: every "random" choice here is a pure integer
function of the row key (a Knuth multiplicative hash in 64-bit
arithmetic), so sampling decisions are reproducible on any cluster,
any partitioning — and renderable 1:1 in the DuckDB oracle. For
production corpora with 64-bit doc ids, swap the multiplicative hash
for xxhash64(doc_id) (same plan shape; the oracle-side rendering is
what forces the LCG here, since DuckDB's hash() differs from Spark's).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.queries import query

# Portable whitespace tokenization (same rendering as queries_training).
_DUCK_TOKS = "list_filter(string_split_regex(text, '\\s+'), x -> x != '')"

# Knuth multiplicative hash, pure BIGINT arithmetic in both engines.
# Valid (overflow-free) for keys < 2^31 — fine for the synthetic
# doc_id space; see module docstring for the 100 TB variant.
_HASH_MULT = 2654435761
_HASH_MOD = 4294967296  # 2^32

_SEG_LEN = 10  # tokens per dedup segment (C4 removes ~3-sentence spans)


def _sample_hash(key: F.Column) -> F.Column:
    return (key * F.lit(_HASH_MULT)) % F.lit(_HASH_MOD)


@query(
    "segment_dedup_rebuild",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                   CAST(ceil(len(toks) / {_SEG_LEN}.0) AS BIGINT) - 1)) AS seg_idx
        FROM t WHERE len(toks) > 0
    ), seg AS (
        SELECT doc_id, seg_idx,
               array_to_string(
                   toks[(seg_idx * {_SEG_LEN} + 1):(seg_idx * {_SEG_LEN} + {_SEG_LEN})],
                   ' ') AS seg_text
        FROM s
    ), k AS (
        SELECT doc_id, seg_idx, seg_text,
               (doc_id * 2048 + seg_idx) =
                   MIN(doc_id * 2048 + seg_idx) OVER (PARTITION BY seg_text)
                   AS keep
        FROM seg
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN seg_text END, ' '
                               ORDER BY seg_idx), '') AS cleaned_text
    FROM k GROUP BY doc_id
    """,
)
def segment_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span removal: split every document into
    consecutive 10-token segments, drop every corpus-wide repeat of a
    segment except its first occurrence (global (doc_id, seg_idx)
    order), and reassemble the surviving text per document.

    Scale shape: one shuffle keyed on segment content for the
    keep-first argmin (min-over-window, no sort), one shuffle on
    doc_id for the rebuild. At 100 TB the window key should be
    xxhash64(seg_text) (fixed-width) with the string carried alongside;
    semantics identical modulo 64-bit collisions.
    """
    from etl_inreach_spark.functions.text import tokens

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") > 0)
    )
    seg = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("toks") / F.lit(float(_SEG_LEN))).cast("bigint")
                    - F.lit(1),
                ),
                lambda s: F.array_join(
                    F.slice(F.col("toks"), s * _SEG_LEN + 1, F.lit(_SEG_LEN)), " "
                ),
            )
        ).alias("seg_idx", "seg_text"),
    )
    order_key = F.col("doc_id") * F.lit(2048) + F.col("seg_idx")
    keep = order_key == F.min(order_key).over(Window.partitionBy("seg_text"))
    return (
        seg.withColumn("keep", keep)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("seg_idx", "seg_text"))
                        )
                    ),
                    lambda x: x.seg_text,
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


@query(
    "stratified_sample_documents",
    oracle=f"""
    SELECT doc_id, lang, source,
           (doc_id * {_HASH_MULT}) % {_HASH_MOD} AS sample_hash
    FROM documents
    WHERE (doc_id * {_HASH_MULT}) % {_HASH_MOD} <
          CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
               THEN {_HASH_MOD // 4} ELSE {(_HASH_MOD // 4) * 3} END
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum keep rates
    (even-numbered sources 25%, odd 75%) decided by a pure integer
    hash of doc_id against an integer threshold — no RNG, no state,
    reproducible under any partitioning. The filter is a narrow
    per-row predicate (no shuffle); at scale it composes with
    partition pruning when the stratum is a partition column."""
    d = load_table(spark, sf_dir, "documents")
    h = _sample_hash(F.col("doc_id"))
    thresh = F.when(
        F.substring("source", 4, 10).cast("integer") % 2 == 0,
        F.lit(_HASH_MOD // 4),
    ).otherwise(F.lit((_HASH_MOD // 4) * 3))
    return d.select(
        "doc_id", "lang", "source", h.alias("sample_hash")
    ).filter(F.col("sample_hash") < thresh)


@query(
    "reservoir_sample_per_source",
    oracle=f"""
    SELECT doc_id, source, sample_rank FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY (doc_id * {_HASH_MULT}) % {_HASH_MOD}, doc_id
               ) AS BIGINT) AS sample_rank
        FROM documents
    ) WHERE sample_rank <= 5
    """,
)
def reservoir_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample without replacement per stratum
    (k=5 docs per source): rank rows by the deterministic hash and
    keep the k smallest — the distributed, reproducible equivalent of
    per-key reservoir sampling. One shuffle on the stratum key; the
    rank filter cuts each partition to k rows before the next stage
    (WindowGroupLimit pushes the top-k into the sort at scale)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        _sample_hash(F.col("doc_id")), F.col("doc_id")
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("bigint").alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 5)
    )


@query(
    "domain_mix_weights",
    oracle=f"""
    WITH s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT source, n_docs, n_tokens,
               CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_sources
        FROM s
    )
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
           least(1.0, (CAST(total_tokens AS DOUBLE) / n_sources) / n_tokens)
               AS mix_weight,
           least(1.0, (CAST(total_tokens AS DOUBLE) / n_sources) / n_tokens)
               * n_tokens AS expected_tokens
    FROM tot
    """,
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: per-source token counts and the
    downsampling weight that moves the corpus toward a uniform
    per-source token budget (weight = min(1, target_share/actual),
    oversampling disallowed). The global total is a window over the
    already-aggregated 20-row relation — the single-partition window
    is on post-agg data, never the raw corpus."""
    from etl_inreach_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    total = F.sum("n_tokens").over(w).cast("bigint")
    n_sources = F.count(F.lit(1)).over(w).cast("bigint")
    share = F.col("n_tokens").cast("double") / total
    weight = F.least(
        F.lit(1.0), (total.cast("double") / n_sources) / F.col("n_tokens")
    )
    return s.select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        weight.alias("mix_weight"),
        (weight * F.col("n_tokens")).alias("expected_tokens"),
    )


@query(
    "udtf_token_runs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), u AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks))) AS i
        FROM t WHERE len(toks) > 0
    ), g AS (
        SELECT doc_id, toks[i] AS token, i,
               i - row_number() OVER (PARTITION BY doc_id, toks[i] ORDER BY i)
                   AS grp
        FROM u
    )
    SELECT doc_id, token,
           CAST(MIN(i) AS BIGINT) AS start_pos,
           CAST(COUNT(*) AS BIGINT) AS run_len
    FROM g GROUP BY doc_id, token, grp
    HAVING COUNT(*) >= 2
    """,
)
def udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 user-defined TABLE function,
    Arrow-optimized): run-length encoding of immediately-repeated
    tokens per document, invoked via LATERAL so each input row fans
    out to 0..n output rows. The oracle states the same spec as a
    gaps-and-islands window query — which is also the pure-SQL plan
    you'd use when the logic fits builtins; the UDTF exists to cover
    the table-function API the way multimodal covers mapInPandas.
    Arrow-optimized (ArrowEvalPythonUDTF), so the registry-wide
    no-BatchEvalPython audit still holds."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, start_pos bigint, run_len bigint", useArrow=True)
    class TokenRuns:
        def eval(self, text: str):
            if text is None:
                return
            toks = [t for t in text.split() if t]
            i = 0
            while i < len(toks):
                j = i
                while j + 1 < len(toks) and toks[j + 1] == toks[i]:
                    j += 1
                if j > i:
                    yield (toks[i], i + 1, j - i + 1)
                i = j + 1

    name = "token_runs_udtf"
    spark.udtf.register(name, TokenRuns)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "curation_documents"
    )
    return spark.sql(
        f"""
        SELECT d.doc_id, r.token, r.start_pos, r.run_len
        FROM curation_documents d, LATERAL {name}(d.text) r
        """
    )


@query(
    "pseudonymize_customers",
    oracle=f"""
    SELECT c_custkey, c_name,
           'Customer#' || CAST(
               (CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT)
                * {_HASH_MULT}) % {_HASH_MOD} AS VARCHAR) AS masked_name,
           c_mktsegment
    FROM customer
    """,
)
def pseudonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pseudonymization: extract the numeric identity embedded in
    the free-text name field and replace it with a deterministic
    surrogate (keyed multiplicative hash) — referential integrity is
    preserved (same id -> same surrogate, so joins on masked data
    still work) while the original id is not directly recoverable
    without the key. Pure column expressions (regexp_extract + integer
    arithmetic), no shuffle; the analytics column (mktsegment)
    survives untouched."""
    c = load_table(spark, sf_dir, "customer")
    ident = F.regexp_extract(F.col("c_name"), r"([0-9]+)", 1).cast("bigint")
    return c.select(
        "c_custkey",
        "c_name",
        F.concat(F.lit("Customer#"), _sample_hash(ident).cast("string")).alias(
            "masked_name"
        ),
        "c_mktsegment",
    )


@query(
    "hof_array_zoo",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
               AS total_chars,
           CAST(list_max(list_transform(toks, t -> length(t))) AS BIGINT)
               AS max_token_len,
           len(list_filter(toks, t -> t = 'the')) > 0 AS has_stopword,
           len(list_filter(toks, t -> length(t) > 8)) = 0 AS all_short,
           array_to_string(list_sort(list_distinct(toks))[1:5], ',')
               AS first5_distinct
    FROM t
    """,
)
def hof_array_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function coverage in one narrow projection:
    aggregate (fold), transform, exists, forall, array_sort/distinct/
    slice — all JVM-side lambda expressions, zero UDFs, zero shuffles.
    The fold accumulates in BIGINT so the oracle's list_sum (HUGEINT
    in DuckDB) renders identically after the CAST."""
    from etl_inreach_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    return d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.aggregate(
            "toks",
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.length(t),
        ).alias("total_chars"),
        F.array_max(F.transform("toks", F.length)).cast("bigint").alias(
            "max_token_len"
        ),
        F.exists("toks", lambda t: t == F.lit("the")).alias("has_stopword"),
        F.forall("toks", lambda t: F.length(t) <= 8).alias("all_short"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct("toks")), 1, 5), ","
        ).alias("first5_distinct"),
    )


@query(
    "groupwise_split_documents",
    oracle="""
    WITH h AS (
        SELECT doc_id, source,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(generate_series(1, greatest(length(source), 1)),
                                      i -> CAST(unicode(substr(source, i, 1)) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 1000000007
               ) AS gh
        FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN gh % 10 < 8 THEN 'train'
                WHEN gh % 10 = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def groupwise_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-level leakage-safe split: the train/val/test decision
    hashes the SOURCE, not the row, so every document from one source
    lands in the same split — the contamination guard for eval sets
    (near-duplicates cluster within a source; a row-level split like
    hash_split_documents leaks them across the boundary). Same
    shuffle-free, RNG-free, repartition-proof properties as the
    row-level split, with the portable polynomial string hash
    (functions/text.rolling_hash) standing in for the affine integer
    hash because the group key is a string."""
    from etl_inreach_spark.functions.text import rolling_hash

    d = load_table(spark, sf_dir, "documents")
    gh = rolling_hash(F.col("source"))
    split = (
        F.when(gh % 10 < 8, F.lit("train"))
        .when(gh % 10 == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", "source", split.alias("split"))


@query(
    "compress_consecutive_events",
    oracle="""
    WITH o AS (
        SELECT event_id, user_id, ts, event_type,
               lag(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts, event_type
    FROM o
    WHERE prev_type IS NULL OR prev_type != event_type
    """,
)
def compress_consecutive_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length compression of a state stream: keep only rows where
    the per-user event_type CHANGES (LAG over the (ts, event_id)
    timeline) — the changes-only storage pattern that turns a dense
    sensor/state feed into its transition log (the reference's
    featuresmap keeps only the latest state; this keeps every
    TRANSITION, the other standard compaction). One window pass, one
    shuffle on user_id; downstream joins pay |transitions|, not
    |events|. NULL-first semantics: a user's first event always
    survives."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev = F.lag("event_type").over(w)
    return (
        ev.withColumn("_prev", prev)
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
        .select("event_id", "user_id", "ts", "event_type")
    )


@query(
    "token_budget_select",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
                    AS BIGINT) AS n_tokens,
               0.3 * least(CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                               x -> x != '')) AS DOUBLE) / 100, 1.0)
                 + 0.4 * (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]'))
                                     AS DOUBLE) / n_chars)
                 + 0.3 * (CAST(len(list_intersect(
                             list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                                       x -> x != '')),
                             ['the','a','of','and','is'])) AS DOUBLE) / 5)
                   AS quality_score
        FROM documents
        WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) > 0
    ), c AS (
        SELECT doc_id, n_tokens, quality_score,
               CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
        FROM t
    )
    SELECT doc_id, n_tokens, quality_score, cum_tokens
    FROM c
    WHERE cum_tokens <= 20000
    """,
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a global TOKEN BUDGET: rank documents by
    the composite quality score (same formula text_stats value-gates)
    and keep the best documents until the cumulative token count
    reaches the budget — the quality-first corpus-sizing step of a
    pretraining mix ("give me the best 20k/2B/500B tokens").

    Scale shape: the naive rendering is one GLOBAL ordered window
    (ORDER BY quality DESC), which funnels the whole corpus through a
    single partition. Instead the running sum is a two-level
    distributed prefix sum in QUALITY order (the pack_chunks discipline
    transplanted from id-order to rank-order): quality is bucketed into
    B range bins via floor((1-q)*B) — monotone in the sort key, so
    bucket order IS quality order and ties stay inside one bucket —
    then per-bucket token totals (B rows) get the only global window,
    and each row pays one within-bucket window plus a broadcast join.
    Each row shuffles once; no single-partition pass anywhere. The
    float sort key is safe cross-engine because both engines compute
    the identical IEEE double (pinned by text_stats) and the window
    SUM itself is pure BIGINT.

    Generalizes the reference's keep-the-freshest-rows selection
    (/root/reference/task.ts:151-159) from per-key latest to
    global best-under-budget."""
    from etl_inreach_spark.functions.text import (
        LANG_MARKERS,
        marker_hits,
        punct_count,
        tokens,
    )

    num_buckets = 64
    budget = 20_000

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("bigint")
    stop_ratio = marker_hits(F.array_distinct(toks), LANG_MARKERS["en"]).cast(
        "double"
    ) / F.lit(5)
    punct_ratio = punct_count(F.col("text")).cast("double") / F.col("n_chars")
    quality = (
        F.lit(0.3) * F.least(n_tokens.cast("double") / F.lit(100), F.lit(1.0))
        + F.lit(0.4) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * stop_ratio
    )
    base_rows = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        quality.alias("quality_score"),
    ).filter(F.col("n_tokens") > 0)

    bucket = F.least(
        F.lit(num_buckets - 1),
        F.floor((F.lit(1.0) - F.col("quality_score")) * num_buckets),
    ).cast("bigint")
    b = base_rows.withColumn("_bucket", bucket)

    totals = b.groupBy("_bucket").agg(F.sum("n_tokens").alias("_btot"))
    # Global window over <= num_buckets rows — intentionally tiny.
    offsets = totals.withColumn(
        "_base",
        F.coalesce(
            F.sum("_btot").over(
                Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_bucket", "_base")

    w = (
        Window.partitionBy("_bucket")
        .orderBy(F.col("quality_score").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.join(F.broadcast(offsets), "_bucket")
        .withColumn("cum_tokens", (F.col("_base") + F.sum("n_tokens").over(w)).cast("bigint"))
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "n_tokens", "quality_score", "cum_tokens")
    )


@query(
    "priority_sample_documents",
    oracle="""
    WITH pri AS (
        SELECT source, doc_id, n_chars,
               (CAST(n_chars AS DOUBLE) * 4294967296.0)
                 / CAST(((doc_id * 2654435761) % 4294967296) + 1 AS DOUBLE)
                 AS priority
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, n_chars, priority,
               row_number() OVER (PARTITION BY source
                                  ORDER BY priority DESC, doc_id ASC) AS rn
        FROM pri
    ),
    tau AS (
        SELECT source,
               coalesce(max(CASE WHEN rn = 4 THEN priority END), 0.0) AS tau
        FROM ranked GROUP BY source
    )
    SELECT r.doc_id, r.source, r.priority,
           CAST(r.rn AS INT) AS sample_rank,
           greatest(CAST(r.n_chars AS DOUBLE), t.tau) AS est_weight
    FROM ranked r JOIN tau t ON t.source = r.source
    WHERE r.rn <= 3
    """,
)
def priority_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling for corpus curation: a per-source PRIORITY
    SAMPLE (Duffield-Lund-Thorup, JACM 2007) of 3 documents weighted
    by n_chars, with the adjusted weight max(w, tau) that makes any
    subset-sum over the sample an unbiased estimate of the full
    corpus — the weighted counterpart of the value-oracled uniform
    samplers (stratified_sample_documents / reservoir_sample_per_source).
    Priorities are w * 2^32 / (knuth_hash(id) + 1): pure integer hash +
    ONE double division, so the sample is deterministic on any
    partitioning and bit-identical on any engine (no RNG, no libm).
    Scale shape (operators/sampling.py): one shuffle on the strata key
    + a bounded per-stratum heap; tau comes from the (k+1)-th row of
    the SAME window pass. Generalizes the reference's keep-best-rows
    selection (/root/reference/task.ts:151-159) to weighted-k-with-
    estimation."""
    from etl_inreach_spark.operators.sampling import priority_sample

    d = load_table(spark, sf_dir, "documents")
    return priority_sample(
        d.select("doc_id", "source", "n_chars"), 3, strata_cols=["source"]
    ).select("doc_id", "source", "priority", "sample_rank", "est_weight")


@query(
    "global_row_index_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
             AS row_index
    FROM orders
    """,
)
def global_row_index_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dense 0-based global row index in key order — the
    DataFrame-native zipWithIndex Spark lacks. The oracle is the
    textbook single-partition row_number; the Spark side MUST NOT run
    that plan (a 100 TB relation cannot funnel through one partition):
    operators/indexing.global_row_index range-buckets on the key, puts
    the only global window over the <=B-row bucket-count relation, and
    gives each row one within-bucket window + a broadcast join — the
    two-level distributed prefix sum (same discipline as
    operators/packing.pack_chunks), plan-shape-pinned in
    tests/test_indexing.py. Equality with the oracle holds because the
    bucket function floor(key*B/(max+1)) is monotone in the key."""
    from etl_inreach_spark.operators.indexing import global_row_index

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    return global_row_index(o, "o_orderkey").select("o_orderkey", "row_index")


@query(
    "negative_sample_contrastive",
    oracle="""
    WITH idx AS (
        SELECT doc_id, source,
               row_number() OVER (ORDER BY doc_id) - 1 AS ri
        FROM documents
    ),
    n AS (SELECT count(*) AS n FROM documents),
    slots AS (
        SELECT a.doc_id AS anchor_id, a.source AS anchor_source,
               s.slot,
               ((a.doc_id * 2654435761) % 4294967296) AS h1
        FROM idx a CROSS JOIN (SELECT unnest(range(4)) AS slot) s
    ),
    probes AS (
        SELECT anchor_id, anchor_source, slot,
               (h1 + slot * ((h1 * 2 + 1) % 4294967296))
                 % (SELECT n FROM n) AS trow
        FROM slots
    )
    SELECT p.anchor_id,
           CAST(min(p.slot) AS INT) AS slot,
           i.doc_id AS neg_id,
           min(p.anchor_source) AS anchor_source,
           min(i.source) AS neg_source
    FROM probes p JOIN idx i ON i.ri = p.trow
    WHERE i.doc_id <> p.anchor_id
      AND p.anchor_source IS DISTINCT FROM i.source
    GROUP BY p.anchor_id, i.doc_id
    """,
)
def negative_sample_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: up to
    4 pseudo-random negatives per document, excluding the anchor and
    any same-source document (near-dup clusters make same-group rows
    FALSE negatives). Slot j of anchor a targets global corpus
    position (h1(a) + j*h2(a)) mod N — double hashing over the exact
    row index — so candidate generation is ONE equi-join against the
    globally-indexed corpus: never a cross join, never a per-row UDF,
    uniform by construction (every position receives ~k probes), and
    reproducible on any cluster/partitioning. The oracle replays the
    identical integer arithmetic on DuckDB; collision dedup keeps the
    lowest slot per (anchor, negative) pair on both engines."""
    from etl_inreach_spark.operators.indexing import negative_sample

    d = load_table(spark, sf_dir, "documents")
    return negative_sample(d.select("doc_id", "source"), 4)


_SPAN_K = 8  # tokens per duplicated window (Lee et al. use 50 BPE tokens)


@query(
    "dup_span_maximal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
    ), grams AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
               array_to_string(list_slice(t, i, i + {_SPAN_K} - 1), ' ') AS gram
        FROM toks, UNNEST(range(1, len(t) - {_SPAN_K} + 2)) AS u(i)
        WHERE len(t) >= {_SPAN_K}
    ), dup AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) AS n
            FROM grams
        ) WHERE n >= 2
    ), flagged AS (
        SELECT doc_id, pos,
               CASE WHEN LAG(pos) OVER w IS NULL
                         OR pos - LAG(pos) OVER w > {_SPAN_K}
                    THEN 1 ELSE 0 END AS brk
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), islands AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM flagged
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {_SPAN_K} - 1 AS BIGINT) AS span_end,
           CAST(MAX(pos) + {_SPAN_K} - MIN(pos) AS BIGINT) AS span_tokens
    FROM islands GROUP BY doc_id, island
    """,
)
def dup_span_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup at k-token granularity: maximal contiguous
    regions of each document in which every token is covered by some
    8-token window occurring at least twice in the corpus (the
    Lee-et-al span-removal coverage semantic; a merged span can
    contain an interior window that is itself unique)
    — the span-removal pass a training-data
    pipeline runs AFTER document-level dedup (near-dup docs share long
    spans; boilerplate shares short ones). The DuckDB oracle replays
    the identical tokenize -> window-count -> gaps-and-islands
    pipeline, so values (token indices) match exactly; see
    operators/text_dedup.py:duplicated_spans for the plan shape and
    the xxhash64 shuffle-key swap at 100 TB."""
    from etl_inreach_spark.operators.text_dedup import duplicated_spans

    d = load_table(spark, sf_dir, "documents")
    return duplicated_spans(d, k=_SPAN_K, min_count=2)


def temperature_resample(d: DataFrame) -> DataFrame:
    """The full temperature-resample expression pipeline over a
    (doc_id, source) relation — factored out so the registered query
    and the property test (tests/test_span_dedup.py) drive the SAME
    code instead of a copy that could drift (ADVICE r6)."""
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    rates = counts.select(
        "source",
        "n_docs",
        F.sqrt(
            F.min("n_docs").over(Window.partitionBy()).cast("double")
            / F.col("n_docs")
        ).alias("rate"),
    ).select(
        "source",
        "n_docs",
        "rate",
        F.floor(F.col("rate") * F.lit(4294967296.0)).cast("bigint").alias(
            "keep_below"
        ),
    )
    joined = d.join(F.broadcast(rates), "source")
    return joined.groupBy("source").agg(
        F.min("n_docs").cast("bigint").alias("n_docs"),
        F.sum(
            F.when(_sample_hash(F.col("doc_id")) < F.col("keep_below"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_kept"),
        F.floor(F.min("rate") * F.lit(1000000.0)).cast("bigint").alias(
            "keep_rate_ppm"
        ),
    )


@query(
    "temperature_resample_sources",
    oracle=f"""
    WITH c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ), r AS (
        SELECT source, n_docs,
               sqrt(CAST(MIN(n_docs) OVER () AS DOUBLE) / n_docs) AS rate,
               CAST(floor(sqrt(CAST(MIN(n_docs) OVER () AS DOUBLE) / n_docs)
                          * 4294967296.0) AS BIGINT) AS keep_below
        FROM c
    )
    SELECT d.source,
           CAST(MIN(r.n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN (d.doc_id * {_HASH_MULT}) % {_HASH_MOD}
                              < r.keep_below
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(floor(MIN(r.rate) * 1000000.0) AS BIGINT) AS keep_rate_ppm
    FROM documents d JOIN r ON r.source = d.source
    GROUP BY d.source
    """,
)
def temperature_resample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (the multilingual-corpus
    alpha-sampling of XLM-R, alpha = 0.5): per-source keep rate
    proportional to p_s^(alpha-1), normalized so the SMALLEST source
    keeps everything — which collapses to rate_s = sqrt(min_n / n_s),
    a closed form whose only float ops are one division and one sqrt
    (both IEEE-754 correctly rounded, so Spark and DuckDB produce the
    BIT-IDENTICAL double and the floor()ed integer keep threshold
    cannot straddle an ULP). Per-doc keep decisions reuse the
    registry's pure-integer Knuth hash — reproducible on any
    partitioning, renderable 1:1 in the oracle, engine-exact for
    doc_id < 2^31 (beyond that, doc_id * 2654435761 exceeds int64
    and Spark wraps while DuckDB promotes: a corpus with wider ids
    must mask first, (doc_id % 2^32) * mult % 2^32, rendered
    identically in both engines). Plan: one partial-agg
    groupBy for the counts, the 1-row-per-source rate relation
    broadcast back onto the fact (no second shuffle of documents),
    one final per-source agg. At 100 TB the rate relation is
    |sources| rows — always broadcastable."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_resample(d)


_DIV_N = 3  # n-gram order for the diversity profile


@query(
    "ngram_diversity_sources",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_DUCK_TOKS} AS t FROM documents
    ), grams AS (
        SELECT source,
               array_to_string(list_slice(t, i, i + {_DIV_N} - 1), ' ') AS gram
        FROM toks, UNNEST(range(1, len(t) - {_DIV_N} + 2)) AS u(i)
        WHERE len(t) >= {_DIV_N}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS total_grams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_grams,
           (1000000 * COUNT(DISTINCT gram)) // COUNT(*) AS diversity_ppm
    FROM grams GROUP BY source
    """,
)
def ngram_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity profile (the distinct-n-gram ratio behind
    Self-BLEU-style repetitiveness checks): per source, total vs
    distinct whitespace 3-grams and their ratio in EXACT integer ppm
    (1e6 * distinct // total — no doubles anywhere, so the oracle
    match is trivial). A collapsing ratio flags template/boilerplate
    sources before they reach training. Plan: gram explode feeding ONE
    hash aggregate keyed (source, gram) then a per-source partial-agg
    rollup — the same two-level distinct-count shape as
    vocab_top_terms; at 100 TB swap the gram string for xxhash64 as
    in dup_span_maximal (documented there)."""
    d = load_table(spark, sf_dir, "documents")
    from etl_inreach_spark.functions.text import tokens

    base = d.select("source", tokens(F.col("text")).alias("_t")).where(
        F.size("_t") >= _DIV_N
    )
    grams = base.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - _DIV_N),
                lambda i: F.array_join(
                    F.slice("_t", i + F.lit(1), F.lit(_DIV_N)), " "
                ),
            )
        ).alias("gram"),
    )
    return grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_grams"),
        F.count_distinct("gram").cast("bigint").alias("distinct_grams"),
        # `div` = exact integer division on both engines (DuckDB `//`);
        # a double divide + cast would disagree one ULP from truncation
        F.expr("(1000000L * count(DISTINCT gram)) div count(1)").alias(
            "diversity_ppm"
        ),
    )


_K_ANON = 5  # minimum group size


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH g AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN group_size < {_K_ANON} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_small_groups,
           CAST(SUM(CASE WHEN group_size < {_K_ANON} THEN group_size
                         ELSE 0 END) AS BIGINT) AS n_rows_to_suppress,
           CAST(MIN(group_size) AS BIGINT) AS min_group_size
    FROM g GROUP BY c_mktsegment
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance audit: k-anonymity over the quasi-identifier
    pair (market segment, nation) — any equivalence class smaller
    than k = 5 re-identifies its members and must be suppressed or
    generalized before the table ships to training. Complements the
    registry's PII pseudonymization (pseudonymize_customers): that
    query hides direct identifiers; this one measures the joint-
    attribute leak that remains. Two stacked hash aggregations (class
    sizes, then per-segment rollup of violations) — both partial-agg,
    all-integer output, and the narrow QI projection prunes at the
    scan. At 100 TB the class-size relation is |QI-combinations| rows,
    orders of magnitude below the table."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    small = F.col("group_size") < _K_ANON
    return g.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(small, 1).otherwise(0)).cast("bigint").alias(
            "n_small_groups"
        ),
        F.sum(F.when(small, F.col("group_size")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_to_suppress"),
        F.min("group_size").cast("bigint").alias("min_group_size"),
    )


@query(
    "distribution_drift_orders",
    oracle="""
    WITH b AS (
        SELECT year(o_orderdate) AS yr,
               least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bucket
        FROM orders WHERE year(o_orderdate) IN (1997, 1998)
    ), c AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_1997,
               CAST(SUM(CASE WHEN yr = 1998 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_1998
        FROM b GROUP BY bucket
    ), t AS (
        SELECT bucket, n_1997, n_1998,
               SUM(n_1997) OVER () AS t97, SUM(n_1998) OVER () AS t98
        FROM c
    )
    SELECT bucket, n_1997, n_1998,
           CAST((1000000 * n_1997) // t97 AS BIGINT) AS share_1997_ppm,
           CAST((1000000 * n_1998) // t98 AS BIGINT) AS share_1998_ppm,
           CAST(abs((1000000 * n_1997) // t97
                    - (1000000 * n_1998) // t98) AS BIGINT) AS drift_ppm
    FROM t
    """,
)
def distribution_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-drift monitor: the order-value histogram of 1998 vs
    1997 in fixed 50k-price buckets (capped at decile 9), with
    per-bucket population shares and their absolute drift in EXACT
    integer ppm — the integer skeleton of a PSI/KL drift score with
    the logarithm left to the consumer (irrational, engine-divergent;
    every number here is exactly reproducible and oracle-hashable).
    One partial-agg groupBy over a 2-year scan slice plus a
    10-row window for the totals. The production posture at 100 TB is
    identical — bucket counts are the only shuffled state. Bucket key
    discipline: floor(price/50000) — one IEEE division + floor, bit-
    identical on both engines — NOT CAST(price AS BIGINT)//50000,
    whose cast truncates on Spark and ROUNDS on DuckDB, flipping
    boundary rows across buckets (caught by the sf0.1 sweep)."""
    o = load_table(spark, sf_dir, "orders").where(
        F.year("o_orderdate").isin(1997, 1998)
    )
    b = o.select(
        F.year("o_orderdate").alias("yr"),
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(50000)).cast("bigint"),
            F.lit(9),
        ).alias("bucket"),
    )
    c = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("yr") == 1997, 1).otherwise(0))
        .cast("bigint")
        .alias("n_1997"),
        F.sum(F.when(F.col("yr") == 1998, 1).otherwise(0))
        .cast("bigint")
        .alias("n_1998"),
    )
    w = Window.partitionBy()
    t = c.select(
        "bucket",
        "n_1997",
        "n_1998",
        F.sum("n_1997").over(w).alias("t97"),
        F.sum("n_1998").over(w).alias("t98"),
    )
    s97 = F.expr("(1000000L * n_1997) div t97")
    s98 = F.expr("(1000000L * n_1998) div t98")
    return t.select(
        "bucket",
        "n_1997",
        "n_1998",
        s97.cast("bigint").alias("share_1997_ppm"),
        s98.cast("bigint").alias("share_1998_ppm"),
        F.abs(s97 - s98).cast("bigint").alias("drift_ppm"),
    )


@query(
    "ks_drift_orders",
    oracle="""
    WITH o AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v, o_orderstatus AS s
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), n AS (
        SELECT CAST(sum(CASE WHEN s = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN s = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM o
    ), pc AS (
        SELECT v,
               CAST(sum(CASE WHEN s = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN s = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM o GROUP BY v
    ), c AS (
        SELECT v,
               CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS f1,
               CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS f2
        FROM pc
    ), d AS (
        SELECT v, abs(f1 * n2 - f2 * n1) AS dn FROM c, n
    ), m AS (
        SELECT max(dn) AS d_num FROM d
    )
    SELECT n.n1, n.n2, m.d_num,
           CAST(CAST(m.d_num AS HUGEINT) * 1048576
                // (CAST(n.n1 AS HUGEINT) * n.n2) AS BIGINT) AS ks_fp,
           (SELECT min(v) FROM d WHERE d.dn = m.d_num) AS v_at_max
    FROM n, m
    """,
)
def ks_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov distance between the order
    value distributions of finished ('F') and open ('O') orders — the
    distribution-drift test with an actual statistic, beside the
    binned PSI skeleton of distribution_drift_orders. The statistic
    stays in exact integers end-to-end: D's numerator is
    max_v |F1(v)*n2 - F2(v)*n1| (cross-multiplied empirical CDFs —
    no division until the final fixed-point rendering
    (d_num * 2^20) // (n1*n2)), and the report carries the smallest
    value attaining the max (max-then-min-v, an order-free argmax).

    Scale shape: the empirical CDFs are GLOBAL running sums over the
    per-value counts — rendered with the same two-level discipline as
    exact_quantile_rankselect: within-bucket cumulative windows
    (partitioned by the range-bounded bucket key) plus a bucket-level
    prefix over the ~600-row histogram; no unpartitioned window ever
    sees a data-sized row stream. int64 bounds, stated separately:
    (a) the raw cross-products |f*n| <= n1*n2 fit int64 to ~3e9 rows
    per side; (b) the 2^20 RENDERING d_num*2^20 would overflow int64
    already at n1*n2 > ~8.8e12 (~3e6 rows per side), so ks_fp is
    computed through DECIMAL(38,0) (Spark) / HUGEINT (oracle) and
    only the <=2^20 quotient is cast back to BIGINT. Past (a), widen
    the cross-products themselves the same way."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_totalprice").cast("double").alias("v"),
            F.col("o_orderstatus").alias("s"),
        )
    )
    pc = o.groupBy("v").agg(
        F.sum(F.when(F.col("s") == "F", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("s") == "O", 1).otherwise(0)).alias("c2"),
    ).withColumn("b", F.floor(F.col("v") / F.lit(1000.0)).cast("bigint"))
    wloc = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = pc.select(
        "v",
        "b",
        F.sum("c1").over(wloc).alias("l1"),
        F.sum("c2").over(wloc).alias("l2"),
    )
    btot = pc.groupBy("b").agg(
        F.sum("c1").alias("bs1"), F.sum("c2").alias("bs2")
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    before = btot.select(
        "b",
        (F.sum("bs1").over(wb) - F.col("bs1")).alias("before1"),
        (F.sum("bs2").over(wb) - F.col("bs2")).alias("before2"),
    )
    n = o.agg(
        F.sum(F.when(F.col("s") == "F", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("s") == "O", 1).otherwise(0)).alias("n2"),
    )
    cdf = loc.join(F.broadcast(before), "b").crossJoin(F.broadcast(n))
    d = cdf.select(
        "n1",
        "n2",
        "v",
        F.abs(
            (F.col("before1") + F.col("l1")) * F.col("n2")
            - (F.col("before2") + F.col("l2")) * F.col("n1")
        ).alias("dn"),
    )
    # order-free argmax: max on (dn, -v) picks the max statistic and,
    # among ties, the SMALLEST value attaining it
    agg = d.groupBy("n1", "n2").agg(
        F.max(F.struct(F.col("dn"), (-F.col("v")).alias("nv"))).alias("m")
    )
    return agg.select(
        "n1",
        "n2",
        F.col("m.dn").alias("d_num"),
        F.expr(
            "cast(m.dn as decimal(38,0)) * 1048576"
            " div (cast(n1 as decimal(38,0)) * n2)"
        ).alias("ks_fp"),
        (-F.col("m.nv")).alias("v_at_max"),
    )


@query(
    "auc_price_status",
    oracle="""
    WITH o AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS v, o_orderstatus AS s
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), n AS (
        SELECT CAST(sum(CASE WHEN s = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN s = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM o
    ), pc AS (
        SELECT v,
               CAST(sum(CASE WHEN s = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN s = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM o GROUP BY v
    ), c AS (
        SELECT v, c1, c2,
               CAST(sum(c1 + c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    - (c1 + c2) AS BIGINT) AS cum_before
        FROM pc
    ), r AS (
        -- 2x the tie-adjusted (midrank) rank sum of class F:
        -- each of the c1 F-copies at value v carries midrank
        -- cum_before + (c1+c2+1)/2
        SELECT CAST(sum(c1 * (2 * cum_before + c1 + c2 + 1)) AS BIGINT)
               AS two_r1
        FROM c
    )
    SELECT n.n1, n.n2, r.two_r1,
           r.two_r1 - n.n1 * (n.n1 + 1) AS u1_x2,
           CAST(CAST(r.two_r1 - n.n1 * (n.n1 + 1) AS HUGEINT) * 1048576
               // (2 * CAST(n.n1 AS HUGEINT) * n.n2) AS BIGINT) AS auc_fp
    FROM n, r
    """,
)
def auc_price_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed ROC-AUC — the ranking metric of a classifier
    evaluation pipeline, computed as the Mann-Whitney U statistic
    with full tie handling (AUC = P(X>Y) + P(X=Y)/2 where X is the
    price of a finished order and Y of an open one). Everything is
    integer-exact: per-value class counts, the global rank offsets
    via the same two-level cumsum as ks_drift_orders (within-bucket
    windows + a prefix over the range-bounded histogram), and the
    tie-adjusted rank sum DOUBLED so midranks (k+1/2) never leave
    the integer grid: 2*R1 = sum over distinct v of
    c1 * (2*cum_before + c1 + c2 + 1). The final
    auc_fp = (2*R1 - 2*n1(n1+1)/2) * 2^20 // (2*n1*n2) is one
    integer floor-division. A 0.5-AUC fixture (no signal) and a
    perfectly separated one are pinned in the spec test.

    Scale shape: identical to ks_drift_orders — one per-value count
    aggregate, histogram-bounded prefix, one 1-row reduction. int64
    bounds, stated separately: (a) the raw statistic
    two_r1 <= (n1+n2)^2 fits int64 to ~3e9 total rows; (b) the 2^20
    RENDERING u1_x2*2^20 would overflow int64 already at
    n1*n2 > ~8.8e12 (~3e6 rows per side), so auc_fp is computed
    through DECIMAL(38,0) (Spark) / HUGEINT (oracle) and only the
    <=2^20 quotient is cast back to BIGINT. Past (a), widen two_r1
    itself the same way."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_totalprice").cast("double").alias("v"),
            F.col("o_orderstatus").alias("s"),
        )
    )
    pc = o.groupBy("v").agg(
        F.sum(F.when(F.col("s") == "F", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("s") == "O", 1).otherwise(0)).alias("c2"),
    ).withColumn("b", F.floor(F.col("v") / F.lit(1000.0)).cast("bigint"))
    wloc = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = pc.select(
        "b", "c1", "c2",
        (F.sum(F.col("c1") + F.col("c2")).over(wloc)
         - (F.col("c1") + F.col("c2"))).alias("lbefore"),
    )
    btot = pc.groupBy("b").agg(
        F.sum(F.col("c1") + F.col("c2")).alias("bs")
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    before = btot.select(
        "b", (F.sum("bs").over(wb) - F.col("bs")).alias("bbefore")
    )
    two_r1 = (
        loc.join(F.broadcast(before), "b")
        .select(
            (
                F.col("c1")
                * (
                    2 * (F.col("bbefore") + F.col("lbefore"))
                    + F.col("c1") + F.col("c2") + 1
                )
            ).alias("t")
        )
        .agg(F.sum("t").alias("two_r1"))
    )
    n = o.agg(
        F.sum(F.when(F.col("s") == "F", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("s") == "O", 1).otherwise(0)).alias("n2"),
    )
    return (
        n.crossJoin(F.broadcast(two_r1))
        .select(
            "n1", "n2", "two_r1",
            (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).alias("u1_x2"),
            F.expr(
                "cast(two_r1 - n1 * (n1 + 1) as decimal(38,0)) * 1048576"
                " div (2 * cast(n1 as decimal(38,0)) * n2)"
            ).alias("auc_fp"),
        )
    )


# floor(log10(1 + 1/d) * 1e6 + 0.5), computed ONCE offline — embedding
# the ppm literals keeps every engine-side expression log-free (the
# tfidf libm-ULP lesson); they sum to exactly 1,000,000
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@query(
    "benford_first_digit_orders",
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(
                   CAST(o_totalprice AS DOUBLE) * 100 + 0.5
               ) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS total FROM d
    ), c AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY digit
    )
    SELECT c.digit, c.cnt,
           c.cnt * 1000000 // n.total AS share_ppm,
           CASE {' '.join(f"WHEN c.digit = {k} THEN {v}" for k, v in sorted(_BENFORD_PPM.items()))}
           END AS benford_ppm,
           c.cnt * 1000000 // n.total
               - CASE {' '.join(f"WHEN c.digit = {k} THEN {v}" for k, v in sorted(_BENFORD_PPM.items()))}
                 END AS dev_ppm
    FROM c, n
    """,
)
def benford_first_digit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    fabricated-data / ingestion-fault screen of a data-governance
    suite. The first significant digit comes from the STRING head of
    the exact integer cents (floor(v*100 + 0.5) — prices >= $1 make
    the cents head the value's leading digit), so no engine ever
    evaluates a log: the Benford expectations are 9 precomputed ppm
    literals embedded in both renderings (they sum to exactly 1e6),
    and shares are integer floor-division ppm. Output: per-digit
    count, observed ppm, expected ppm, signed deviation. (TPC-H
    uniform prices are far from Benford — large deviations here are
    the CORRECT answer; the query pins the measurement, not the
    law.) Scale shape: a 9-key map-side-combined aggregate plus one
    broadcast total — nothing else crosses the wire."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice").cast("double") * 100 + F.lit(0.5))
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    n = d.agg(F.count(F.lit(1)).alias("total"))
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in sorted(_BENFORD_PPM.items()) for x in kv]
        ),
        F.col("digit").cast("int"),
    ).cast("bigint")
    return (
        c.crossJoin(F.broadcast(n))
        .select(
            "digit",
            "cnt",
            F.expr("cnt * 1000000 div total").alias("share_ppm"),
            expected.alias("benford_ppm"),
            (F.expr("cnt * 1000000 div total") - expected).alias("dev_ppm"),
        )
    )


@query(
    "source_concentration_hhi",
    oracle="""
    WITH c AS (
        SELECT source, CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY source
    ), n AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total,
               CAST(sum(cnt * cnt) AS BIGINT) AS sq
        FROM c
    )
    SELECT c.source, c.cnt,
           c.cnt * 1000000 // n.total AS share_ppm,
           CAST(CAST(n.sq AS HUGEINT) * 1048576
                // (CAST(n.total AS HUGEINT) * n.total) AS BIGINT) AS hhi_fp,
           CAST(CAST(n.total AS HUGEINT) * n.total * 1048576
                // n.sq AS BIGINT) AS eff_sources_fp
    FROM c, n
    """,
)
def source_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture concentration audit: per-source document share
    (exact integer ppm) plus the Herfindahl-Hirschman index and the
    inverse-Simpson EFFECTIVE number of sources, both as exact
    integer ratios on the 2^20 grid (hhi = sum(c^2)*2^20 //
    n^2, eff = n^2*2^20 // sum(c^2) — no float ever). The pair is
    the one-look answer to 'is this corpus really as diverse as its
    source count claims' before mixture weights are chosen
    (domain_mix_weights / temperature_resample_sources act on the
    same relation). Scale shape: one |sources|-key partial-agg count
    and a broadcast 1-row (total, sum-of-squares) reduction — the
    entire statistic rides on a catalog-sized relation. int64
    bounds, stated separately: (a) the raw partial sum(cnt^2)
    overflows past ~3e9 docs in ONE source — widen the partial to
    DECIMAL(38,0) beyond; (b) the 2^20 RENDERINGS total^2*2^20 and
    sq*2^20 would overflow int64 already at ~3e6 total docs, so
    hhi_fp/eff_sources_fp are computed through DECIMAL(38,0)
    (Spark) / HUGEINT (oracle) with only the bounded quotient cast
    back to BIGINT."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    n = c.agg(
        F.sum("cnt").alias("total"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sq"),
    )
    return c.crossJoin(F.broadcast(n)).select(
        "source",
        "cnt",
        F.expr("cnt * 1000000 div total").alias("share_ppm"),
        F.expr(
            "cast(sq as decimal(38,0)) * 1048576"
            " div (cast(total as decimal(38,0)) * total)"
        ).alias("hhi_fp"),
        F.expr(
            "cast(total as decimal(38,0)) * total * 1048576 div sq"
        ).alias("eff_sources_fp"),
    )


@query(
    "gini_order_values",
    oracle="""
    WITH o AS (
        SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                    AS BIGINT) AS cents
        FROM orders
    ), s AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents) AS i
        FROM o
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS tot,
               sum(CAST(2 * i - 1 AS HUGEINT) * cents) AS wsum
        FROM s
    )
    SELECT n, tot,
           CAST(wsum - CAST(n AS HUGEINT) * tot AS DOUBLE) AS g_num,
           CAST(floor(CAST(wsum - CAST(n AS HUGEINT) * tot AS DOUBLE)
                * 1048576
                / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))) AS BIGINT)
               AS gini_fp
    FROM agg
    """,
)
def gini_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini coefficient of order-value inequality — the scalar
    companion of revenue_weighted_quantile's Lorenz crossings:
    G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x)) over the
    ascending sort, which the query renders as
    (sum((2i-1)*x) - n*sum(x)) / (n*sum(x)): n, sum and the weighted
    sum stay EXACT end-to-end in DECIMAL(38,0) (Spark) / HUGEINT
    (oracle) — the weighted sum sum((2i-1)*cents) <= 2*n^2*max_cents
    leaves int64 already at n ~ 2.8e5 rows ($600k prices), i.e. one
    scale step above sf0.1, so int64 partials were never an option
    (ADVICE r7). Only the two OUTPUT renderings are doubles, each a
    correctly-rounded chain identical on both engines: g_num is the
    exact decimal cast once to double, and gini_fp is one
    double-multiply/divide/floor of the same exact inputs. Rank ties
    don't matter: equal values are interchangeable under any
    assignment of consecutive ranks (the weighted sum over a tie
    block is invariant), so the statistic is partition-exact without
    a tie-break column.

    Scale shape: the global ascending rank i comes from the same
    two-level discipline as the quantile family — a within-bucket
    row_number plus the histogram-level COUNT prefix (never a global
    sort); the three reductions are one partial-agg pass. The
    DECIMAL(38,0) grid holds to n ~ 9e14 rows."""
    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice").cast("double") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents")
    )
    bucketed = o.withColumn(
        "b", (F.col("cents") / F.lit(100000)).cast("bigint")
    )
    wloc = Window.partitionBy("b").orderBy("cents")
    loc = bucketed.withColumn("li", F.row_number().over(wloc))
    btot = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("bc"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    before = btot.select(
        "b", (F.sum("bc").over(wb) - F.col("bc")).alias("bbefore")
    )
    ranked = loc.join(F.broadcast(before), "b").select(
        "cents", (F.col("bbefore") + F.col("li")).alias("i")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(
            (2 * F.col("i") - 1).cast("decimal(38,0)") * F.col("cents")
        ).alias("wsum"),
    )
    g_num_dec = F.col("wsum") - F.col("n").cast("decimal(38,0)") * F.col("tot")
    return agg.select(
        "n",
        "tot",
        g_num_dec.cast("double").alias("g_num"),
        F.floor(
            g_num_dec.cast("double")
            * F.lit(1048576)
            / (F.col("n").cast("double") * F.col("tot").cast("double"))
        )
        .cast("bigint")
        .alias("gini_fp"),
    )


def _curation_gate_oracle() -> str:
    """DuckDB replay of the full three-stage curation stack with each
    stage trained on the PREVIOUS stage's survivors: gate-1 heuristics
    (the quality_filter_pipeline rules verbatim), gate-2 bigram-LM ppm
    score trained on gate-1 survivors (the bigram_lm_quality
    arithmetic, every division integer), gate-3 Naive-Bayes log-odds
    trained on the en/non-en split of gate-2 survivors (the
    nb_quality ilog2 chain). All joins by doc_id; every score an
    exact bigint; the final attribution column names the first gate
    that rejected."""
    from etl_inreach_spark.operators.nb_quality import ilog2_sql_cte_chain

    w_chain, w_fin = ilog2_sql_cte_chain("cg_wsrc", {"a": "xa", "b": "xb"}, "cgw")
    p_chain, p_fin = ilog2_sql_cte_chain("cg_psrc", {"p1": "d1", "p0": "d0"}, "cgp")
    return f"""
    WITH t0 AS (
        SELECT doc_id, lang, text, n_chars,
               len({_DUCK_TOKS}) AS n_tokens,
               len(regexp_extract_all(text, '[.,!?;:]')) AS punct_cnt,
               len(list_intersect(list_distinct({_DUCK_TOKS}),
                   ['the','a','of','and','is'])) AS stop_hits
        FROM documents
    ), g1 AS (
        SELECT doc_id, lang, text,
               CASE
                 WHEN n_tokens < 5 THEN 'too_short'
                 WHEN n_tokens > 500 THEN 'too_long'
                 WHEN CAST(punct_cnt AS DOUBLE) / n_chars > 0.1
                     THEN 'too_much_punct'
                 WHEN stop_hits = 0 THEN 'no_stopwords'
                 ELSE 'ok'
               END AS verdict1
        FROM t0
    ), surv1 AS (
        SELECT doc_id, lang, text FROM g1 WHERE verdict1 = 'ok'
    ), ltoks AS (
        SELECT doc_id, {_DUCK_TOKS} AS t FROM surv1
    ), bigs AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM ltoks, UNNEST(range(1, len(t))) AS u(i)
    ), cnt AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_big
        FROM bigs GROUP BY w1, w2
    ), pre AS (
        SELECT w1, CAST(SUM(c_big) AS BIGINT) AS c_pre FROM cnt GROUP BY w1
    ), lm AS (
        SELECT b.doc_id,
               CAST(SUM((1000000 * m.c_big) // m.c_pre) // COUNT(*)
                    AS BIGINT) AS lm_ppm
        FROM bigs b
        LEFT JOIN (SELECT w1, w2, c_big, c_pre FROM cnt JOIN pre USING (w1)) m
            USING (w1, w2)
        GROUP BY b.doc_id
    ), g2 AS (
        SELECT s.doc_id, s.lang, s.text, l.lm_ppm,
               l.lm_ppm >= 33000 AS keep2
        FROM surv1 s JOIN lm l USING (doc_id)
    ), surv2 AS (
        SELECT doc_id, lang, text FROM g2 WHERE keep2
    ), ntoks AS (
        SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS y,
               unnest({_DUCK_TOKS}) AS term
        FROM surv2
    ), ncnt AS (
        SELECT term, CAST(sum(y) AS BIGINT) AS c1,
               CAST(sum(1 - y) AS BIGINT) AS c0
        FROM ntoks WHERE doc_id % 3 != 0 GROUP BY term
    ), ntot AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c0) AS BIGINT) AS n0,
               CAST(count(*) AS BIGINT) AS v
        FROM ncnt
    ), cg_wsrc AS (
        SELECT term, (c1 + 1) * (n0 + v) AS xa, (c0 + 1) * (n1 + v) AS xb
        FROM ncnt, ntot
    ),
    {w_chain},
    w AS (
        SELECT term, l_a - l_b AS w_fp FROM {w_fin}
    ), cg_psrc AS (
        SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                    AS BIGINT) AS d0
        FROM surv2 WHERE doc_id % 3 != 0
    ),
    {p_chain},
    prior AS (
        SELECT l_p1 - l_p0 AS prior_fp FROM {p_fin}
    ), nsc AS (
        SELECT t.doc_id,
               CAST(p.prior_fp + sum(w.w_fp) AS BIGINT) AS nb_score_fp
        FROM ntoks t JOIN w USING (term), prior p
        GROUP BY t.doc_id, p.prior_fp
    )
    SELECT g1.doc_id, g1.verdict1,
           (g1.verdict1 = 'ok') AS keep1,
           g2.lm_ppm,
           COALESCE(g2.keep2, FALSE) AS keep2,
           nsc.nb_score_fp,
           COALESCE(g2.keep2, FALSE)
               AND COALESCE(nsc.nb_score_fp >= 0, FALSE) AS keep3,
           CASE
             WHEN g1.verdict1 != 'ok' THEN g1.verdict1
             WHEN NOT COALESCE(g2.keep2, FALSE) THEN 'lm_low'
             WHEN NOT COALESCE(nsc.nb_score_fp >= 0, FALSE)
                 THEN 'nb_reject'
             ELSE 'keep'
           END AS gate
    FROM g1
    LEFT JOIN g2 USING (doc_id)
    LEFT JOIN nsc USING (doc_id)
    """


@query("curation_gate_composed", oracle=_curation_gate_oracle())
def curation_gate_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style quality stack END-TO-END (VERDICT r8 item 5):
    three gates chained so each stage trains on the previous stage's
    survivors, with per-gate attribution for every document —

    1. heuristics (quality_filter_pipeline's rules: length bounds,
       punctuation density, stopword presence; first failing rule is
       the attribution);
    2. bigram-LM corpus-likelihood (bigram_lm_quality's exact ppm
       arithmetic), MODEL TRAINED ON GATE-1 SURVIVORS only — junk
       text no longer pollutes the reference distribution; fixed
       threshold 33,000 ppm (~the survivor population's lower decile
       across SFs);
    3. learned Naive-Bayes en-likeness (operators/nb_quality.py,
       exact integer log-odds), trained on the doc_id%3!=0 split of
       gate-2 survivors, scoring ALL gate-2 survivors; documents
       whose tokens are entirely outside the trained vocabulary fail
       the gate explicitly (no evidence != pass).

    Output: one row per INPUT document — (verdict1, keep1, lm_ppm,
    keep2, nb_score_fp, keep3, gate) where ``gate`` names the first
    rejecting stage or 'keep'. Scores of documents rejected upstream
    are NULL, never computed: at 100 TB each stage's training and
    scoring relations shrink to its survivor set, which is the point
    of running the cheap gate first (CCNet's cascade order).

    Shuffle budget: gate 1 is a narrow projection (zero shuffles);
    gate 2 is the bigram model's two partial aggs + one (w1, w2)
    equi-join; gate 3 is the NB vocab agg + broadcast model join +
    doc-keyed sum; final assembly is two doc_id equi-joins of
    doc-sized relations. No window functions, no driver collects."""
    from etl_inreach_spark.functions.text import (
        LANG_MARKERS,
        marker_hits,
        punct_count,
        tokens,
    )
    from etl_inreach_spark.operators.cooccur import bigram_lm_score
    from etl_inreach_spark.operators.nb_quality import nb_score, nb_train

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    punct_ratio = punct_count(F.col("text")).cast("double") / F.col("n_chars")
    stop_hits = marker_hits(F.array_distinct(toks), LANG_MARKERS["en"])
    verdict1 = (
        F.when(n_tokens < 5, F.lit("too_short"))
        .when(n_tokens > 500, F.lit("too_long"))
        .when(punct_ratio > 0.1, F.lit("too_much_punct"))
        .when(stop_hits == 0, F.lit("no_stopwords"))
        .otherwise(F.lit("ok"))
    )
    # Stage boundaries are MATERIALIZED (eager localCheckpoint, the
    # minhash shingle discipline): each gate's survivor relation has
    # 3-4 downstream consumers (the next model's training, its
    # scoring, and the final assembly), and without the cut the
    # heuristic tokenization re-executed ~10x across the composed
    # lineage (first bench draw: 12.7 s; with the cuts ~halved). At
    # 100 TB this is where a pipeline would write each gate's
    # survivors to a table anyway — the checkpoint is that
    # materialization, minus the copy back to storage.
    # LAZY (r11): the cut stays (multi-consumer dedupe), the
    # compute rides the first consuming action
    g1 = d.select(
        "doc_id", "lang", "text", verdict1.alias("verdict1")
    ).localCheckpoint(eager=False)
    surv1 = g1.filter(F.col("verdict1") == "ok").select(
        "doc_id", "lang", "text"
    )
    lm = bigram_lm_score(surv1).select(
        "doc_id", F.col("mean_prob_ppm").alias("lm_ppm")
    )
    g2 = (
        surv1.join(lm, "doc_id")
        .select(
            "doc_id", "lang", "text", "lm_ppm",
            (F.col("lm_ppm") >= 33000).alias("keep2"),
        )
        .localCheckpoint(eager=False)
    )
    surv2 = g2.filter(F.col("keep2")).select("doc_id", "lang", "text")
    ntoks = surv2.select(
        "doc_id",
        (F.col("lang") == "en").cast("bigint").alias("y"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    lab = surv2.select(
        "doc_id", (F.col("lang") == "en").cast("bigint").alias("y")
    )
    weights, priors = nb_train(
        ntoks.filter(F.col("doc_id") % 3 != 0),
        doc_labels=lab.filter(F.col("doc_id") % 3 != 0),
    )
    nsc = nb_score(ntoks, weights, priors).select(
        "doc_id", F.col("score_fp").alias("nb_score_fp")
    )
    keep2 = F.coalesce(F.col("keep2"), F.lit(False))
    keep3 = keep2 & F.coalesce(F.col("nb_score_fp") >= 0, F.lit(False))
    return (
        g1.join(g2.select("doc_id", "lm_ppm", "keep2"), "doc_id", "left")
        .join(nsc, "doc_id", "left")
        .select(
            "doc_id",
            "verdict1",
            (F.col("verdict1") == "ok").alias("keep1"),
            "lm_ppm",
            keep2.alias("keep2"),
            "nb_score_fp",
            keep3.alias("keep3"),
            F.when(F.col("verdict1") != "ok", F.col("verdict1"))
            .when(~keep2, F.lit("lm_low"))
            .when(
                ~F.coalesce(F.col("nb_score_fp") >= 0, F.lit(False)),
                F.lit("nb_reject"),
            )
            .otherwise(F.lit("keep"))
            .alias("gate"),
        )
    )

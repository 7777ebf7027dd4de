"""Corpus statistics that drive collocation mining and LM-based
quality filtering, in exact integer arithmetic.

Both operators follow the repo's oracle-exactness discipline (SURVEY
§7 hard-parts #4, ADVICE r3): no libm transcendentals in values that
may later cross the DuckDB value gate. PMI is log(lift); we emit the
LIFT itself — ``n_docs * c_ab / (c_a * c_b)`` — as an exact
parts-per-million bigint (monotone in PMI, so every threshold/ranking
use is unchanged), and the bigram LM score as a ppm-floored SUM of
per-position probabilities (floor-then-sum makes the float-free sum
order-insensitive, hence partitioning-proof). r7 oracle-query
candidates; DuckDB renderings sketched in each docstring.

Scale design:

* ``term_cooccurrence_lift`` — the naive all-pairs-per-doc explode is
  quadratic in distinct terms per doc; the classic a-priori cut
  bounds it: only terms with document frequency >= ``min_df`` can
  appear in a pair with support >= ``min_pair_df``, so the (doc,term)
  relation is semi-join-pruned by the surviving vocabulary BEFORE the
  per-doc pair join. Pair generation is a self-equi-join on doc_id
  (shuffle on doc_id, co-located), never a cross join; pair support
  filtering happens in the same aggregation. At 100 TB the vocabulary
  relation (post-min_df) is small enough to broadcast-semi-join.
* ``bigram_lm_score`` — bigram extraction is a narrow per-row array
  transform (no shuffle); the corpus model is two groupBys (bigram,
  prefix); scoring is one equi-join of the exploded doc bigrams
  against the model trained on the same corpus. The model relation at
  web scale shards fine (keys are term pairs); the LEFT join keeps
  documents with fewer than two tokens (zero bigrams, mean 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_inreach_spark.functions.text import tokens

_PPM = 1_000_000


def term_cooccurrence_lift(
    docs: DataFrame,
    min_df: int = 2,
    min_pair_df: int = 2,
) -> DataFrame:
    """Document-level co-occurrence lift for term pairs:
    ``lift = n_docs * df(a,b) / (df(a) * df(b))`` (> 1 ⇔ positive
    PMI), emitted exactly as ``lift_ppm = (ppm * n_docs * df_ab) DIV
    (df_a * df_b)`` plus the raw counts. Output: (term_a, term_b,
    df_a, df_b, df_ab, n_docs, lift_ppm), term_a < term_b.

    DuckDB oracle sketch: distinct (doc,term) CTE -> df counts ->
    self-join a.term < b.term -> HAVING pair count >= min_pair_df ->
    the same integer `//` arithmetic.

    ANSI-overflow precondition (same documentation discipline as
    sampling.py's id-range note): the bigint numerator requires
    ``ppm * n_docs * df_ab < 2^63``, i.e. ``n_docs * df_ab <
    ~9.2e12`` — ample for per-source/per-shard statistics, but a
    whole 1e10-doc corpus needs the DECIMAL(38,0) hop for the
    multiply (values unchanged; both engines carry exact integers in
    decimal).
    """
    dt = (
        docs.select(F.col("doc_id").alias("_doc"), F.explode(tokens(F.col("text"))).alias("term"))
        .distinct()
    )
    # consumed 3x below (df, join x2); LAZY (r11): the dfreq
    # broadcast build materializes it inside the action
    dt = dt.localCheckpoint(eager=False)
    n_docs = docs.select("doc_id").distinct().count()
    dfreq = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= min_df
    )
    # a-priori prune BEFORE pairing: only frequent terms survive
    kept = dt.join(F.broadcast(dfreq), "term").select(
        "_doc", "term", "df"
    )
    a = kept.select(
        "_doc", F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    b = kept.select(
        "_doc", F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "_doc")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("df_ab"))
        .filter(F.col("df_ab") >= min_pair_df)
    )
    return pairs.select(
        "term_a",
        "term_b",
        F.col("df_a").cast("bigint").alias("df_a"),
        F.col("df_b").cast("bigint").alias("df_b"),
        F.col("df_ab").cast("bigint").alias("df_ab"),
        F.lit(n_docs).cast("bigint").alias("n_docs"),
        F.expr(
            f"({_PPM}L * {n_docs}L * df_ab) DIV (df_a * df_b)"
        ).alias("lift_ppm"),
    )


def _bigrams() -> "F.Column":
    """Adjacent-token bigram array of ``text``, built narrowly inside the
    row (no shuffle, no UDF): zip the token array with itself shifted by
    one."""
    t = tokens(F.col("text"))
    return F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda w1, w2: F.struct(w1.alias("w1"), w2.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def bigram_model(docs: DataFrame) -> DataFrame:
    """Corpus bigram MLE counts: (w1, w2, c_big, c_pre) where
    ``c_pre = sum_w c(w1, w)`` — p(w2|w1) = c_big / c_pre, kept as
    the exact count pair, never a float."""
    big = docs.select(F.explode(_bigrams()).alias("b")).select(
        F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    cnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_big"))
    pre = cnt.groupBy("w1").agg(F.sum("c_big").alias("c_pre"))
    return cnt.join(pre, "w1").select("w1", "w2", "c_big", "c_pre")


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Per-document LM quality score against the corpus's own bigram
    model, ``bigram_model(docs)`` (train-on-self, the usual
    corpus-profiling mode; the CCNet/C4-style 'does this text look like
    the corpus' filter,
    with lift/probability in place of log-perplexity so values stay
    rational): for each adjacent pair, p = c_big/c_pre, floored to
    ppm; output (doc_id, n_bigrams, score_ppm_sum, mean_prob_ppm)
    where mean = sum DIV n. No smoothing: every bigram of the corpus
    is in its own model (exact and portable).

    Floor-then-sum: each term is an exact bigint, so the aggregate is
    order-insensitive — same value on any partitioning, and the same
    value in a DuckDB replay (the r7 oracle sketch: bigram CTE via
    list_zip over string_split_regex, counts, join, the same integer
    arithmetic).
    """
    model = bigram_model(docs)
    doc_big = docs.select(
        F.col("doc_id"), F.explode_outer(_bigrams()).alias("b")
    ).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    scored = doc_big.join(model, ["w1", "w2"], "left").select(
        "doc_id",
        # train-on-self: every non-null bigram finds its model row; a
        # document with no bigram (NULL w1) matches none, so p_ppm is NULL
        F.expr(f"({_PPM}L * c_big) DIV c_pre").alias("p_ppm"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("p_ppm").alias("n_bigrams"),
            F.coalesce(F.sum("p_ppm"), F.lit(0)).cast("bigint").alias("score_ppm_sum"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            "score_ppm_sum",
            F.when(F.col("n_bigrams") > 0, F.expr("score_ppm_sum DIV n_bigrams"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("mean_prob_ppm"),
        )
    )

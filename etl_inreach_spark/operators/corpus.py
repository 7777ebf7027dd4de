"""Corpus-hygiene operators for training-data pipelines: benchmark
contamination detection and Gopher-style repetition profiling.

Both generalize the reference's "inspect every row, derive quality
columns, gate on them" shape (the per-placemark validation pipeline,
/root/reference/task.ts:103-149) to corpus scale, and both follow the
repo's execution discipline: explode + scalar codegen expressions +
map-side-combined groupBy — no UDFs, no arrays through joins, no
windows over heavy-tailed keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_inreach_spark.functions.text import tokens
from etl_inreach_spark.operators.text_dedup import shingles_exploded


def contamination_ngrams(df: DataFrame, bench_pred: Column) -> DataFrame:
    """Benchmark-contamination check: for every non-benchmark document
    of a (doc_id, text) corpus, the fraction of its distinct character 9-grams that also appear
    anywhere in the benchmark set (``bench_pred`` selects benchmark
    rows).

    Output: (doc_id, n_grams, n_contaminated, contamination, contaminated)
    for corpus (non-benchmark) documents; ``contaminated`` is
    contamination >= 0.5.

    Scale shape: the benchmark gram set is DISTINCT-reduced first and
    is small by construction (eval sets are fixed-size while the corpus
    grows), so the membership probe is a broadcast left-semi-style
    join — corpus grams stream past it with no shuffle of the corpus
    side beyond the per-doc distinct. Gram identity is the 8-byte
    SQL-reproducible 60-bit hash of ``shingles_exploded``, never a
    string; its collision odds are negligible.
    """
    sh = shingles_exploded(df, 9)
    ids = df.select(F.col("doc_id").alias("_id"), bench_pred.alias("_is_bench"))
    sh = sh.join(ids, "_id")

    bench_grams = (
        sh.filter(F.col("_is_bench")).select("_h").distinct().withColumn("_hit", F.lit(1))
    )
    corpus = sh.filter(~F.col("_is_bench"))

    scored = (
        corpus.join(F.broadcast(bench_grams), "_h", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
    )
    ratio = F.col("n_contaminated").cast("double") / F.col("n_grams")
    return scored.select(
        F.col("_id").alias("doc_id"),
        "n_grams",
        "n_contaminated",
        ratio.alias("contamination"),
        (ratio >= 0.5).alias("contaminated"),
    )


def repetition_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_top_word_frac: float = 0.1,
    max_dup_2gram_frac: float = 0.6,
) -> DataFrame:
    """Gopher-style repetition stats per document over whitespace
    tokens: fraction of occurrences claimed by the single most frequent
    word, fraction of duplicate word occurrences, and fraction of
    duplicate word-bigram occurrences; plus the keep/drop gate.

    Output: (id, n_tokens, top_word_frac, dup_word_frac,
    dup_2gram_frac, keep). Documents need >= 2 tokens (a bigram must
    exist).

    Scale shape: one posexplode of the token array; bigrams come from
    a within-document window (doc-sized partitions — bounded and
    balanced, unlike gram-keyed windows); word/bigram multiplicities
    are two-level map-side-combined groupBys (never a countDistinct
    over the corpus); the final assembly joins three doc-keyed
    aggregates of ~|docs| rows each.
    """
    toks = (
        df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_ts"))
        .filter(F.size("_ts") >= 2)
        .select("_id", F.size("_ts").alias("_n"), F.posexplode("_ts").alias("_p", "_w"))
    )
    # per-(doc, word) multiplicity -> per-doc word stats
    wc = toks.groupBy("_id", "_n", "_w").agg(F.count(F.lit(1)).alias("_c"))
    word_stats = wc.groupBy("_id", "_n").agg(
        F.max("_c").alias("_top"), F.count(F.lit(1)).alias("_uniq")
    )
    # bigrams via within-doc lead(); last position's NULL lead drops out
    from pyspark.sql import Window

    nxt = F.lead("_w").over(Window.partitionBy("_id").orderBy("_p"))
    bg = (
        toks.select("_id", "_p", "_w", nxt.alias("_w2"))
        .filter(F.col("_w2").isNotNull())
        .select("_id", F.concat_ws(" ", "_w", "_w2").alias("_bg"))
    )
    bgc = bg.groupBy("_id", "_bg").agg(F.count(F.lit(1)).alias("_c"))
    bg_stats = bgc.groupBy("_id").agg(F.count(F.lit(1)).alias("_bguniq"))

    j = word_stats.join(bg_stats, "_id")
    n = F.col("_n").cast("double")
    top_frac = F.col("_top") / n
    dup_word = (F.col("_n") - F.col("_uniq")) / n
    dup_bg = (F.col("_n") - 1 - F.col("_bguniq")) / (n - 1)
    return j.select(
        F.col("_id").alias(id_col),
        F.col("_n").alias("n_tokens"),
        top_frac.alias("top_word_frac"),
        dup_word.alias("dup_word_frac"),
        dup_bg.alias("dup_2gram_frac"),
        (
            (top_frac <= max_top_word_frac) & (dup_bg <= max_dup_2gram_frac)
        ).alias("keep"),
    )

"""Distributed BPE tokenizer induction (byte-pair encoding merges,
Sennrich et al., "Neural Machine Translation of Rare Words with
Subword Units", ACL 2016) — the missing trainer half of the repo's
text-analysis suite (functions/text.subword_count applies a fixed
BPE-ish segmentation; this LEARNS the merge table from the corpus).

Scale shape — the part that matters at 100 TB:

* The corpus is scanned exactly ONCE, to build the weighted word
  vocabulary (whitespace words -> groupBy counts, map-side combined).
  Every merge round thereafter runs over the VOCAB relation, whose
  size is bounded by distinct-word count (Heaps' law: millions), not
  corpus tokens (trillions) — the same corpus-pass/vocab-pass split
  the reference trainers (subword-nmt, HuggingFace tokenizers) use,
  here as DataFrame ops so the vocab itself can be arbitrarily large.
* Per round: adjacent symbol pairs explode from each word's symbol
  array (zip_with of two slices — no UDF), a count(wc)-weighted
  groupBy picks the best pair, and ONE driver collect of ONE row
  decides the merge — the same bounded-collect discipline as the
  connected-components convergence fingerprint
  (operators/dedup.py). The merge itself is a pure JVM-side
  ``aggregate`` fold over each symbol array (left-to-right
  non-overlapping, exactly the reference semantics), then an eager
  localCheckpoint cuts the per-round lineage.
* Determinism: ties on pair count break lexicographically (pa, pb) —
  pinned against the straight-Python reference in
  tests/test_bpe.py — so the learned merge table is reproducible on
  any cluster and any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _merge_expr(syms: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping replacement of adjacent (a, b)
    with a+b, as a JVM-side fold: append each symbol unless the
    accumulator ends with ``a`` and the symbol is ``b``, in which case
    the tail ``a`` is replaced by ``a+b``. The merged token is
    strictly longer than ``a``, so it can never immediately re-merge —
    this fold IS the scan-with-skip of the reference implementation."""
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _adjacent_pairs(syms: Column) -> Column:
    return F.zip_with(
        F.slice(syms, F.lit(1), F.size(syms) - 1),
        F.slice(syms, F.lit(2), F.size(syms) - 1),
        lambda x, y: F.struct(x.alias("pa"), y.alias("pb")),
    )


# bpe_train stops once the most frequent pair occurs fewer times than this.
MIN_PAIR_COUNT = 2


def bpe_train(
    docs: DataFrame,
    n_merges: int,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn up to ``n_merges`` BPE merges from a document corpus's
    ``text`` column.

    Returns ``(merges, vocab)``: merges as
    [(rank, left, right, weighted_count), ...] in application order,
    and the final vocab DataFrame (word, wc, syms) with each distinct
    word's symbol array after all merges — the trained segmenter
    state. Stops early when no pair reaches MIN_PAIR_COUNT.
    """
    words = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.col("text"), r"\s+"), lambda t: t != F.lit("")
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    vocab = words.select(
        "word", "wc", F.split("word", "").alias("syms")
    ).localCheckpoint(eager=True)

    # BATCHED rounds (r12): one top-K collect can prove SEVERAL
    # consecutive merges at once. After merging the argmax p1=(a,b)
    # into s=a+b, the only pair counts that can INCREASE are pairs
    # involving the new symbol s; pairs touching a or b only decrease;
    # everything else is untouched. So the list entry p_i (i >= 2) is
    # provably the next argmax — with its collected count still exact
    # — when, relative to the already-accepted prefix:
    #   (A) p_i shares no symbol with any accepted pair or its merged
    #       output (then c(p_i) is unchanged);
    #   (B) every accepted pair's output symbol is globally FRESH
    #       (never produced by ANY earlier merge — initial symbols are
    #       single chars, so all multi-char symbols are merge outputs)
    #       and not self-adjacent (a != b): then each pair involving a
    #       new symbol s_j inherits its count bound from a pre-image
    #       pair ((x,a_j), (b_j,y) or (b_j,a_j)) that is NOT in the
    #       accepted prefix, hence ranked at or below position i+1;
    #   (C) c_i > c_{i+1} STRICTLY (with c_{i+1} = the next list entry
    #       if present, unbounded only when the list came back shorter
    #       than K, i.e. exhaustive): every unaccepted, unseen or
    #       newly-created pair then sits strictly below c_i, so no
    #       lex tie against an unknown pair can steal the argmax.
    # A failed condition just ends the batch — the next round's
    # recount decides exactly as before, so the worst case (all ties /
    # shared symbols) degrades to the old one-merge-per-collect loop
    # and the merge SEQUENCE is identical by construction (pinned
    # against the straight-Python reference in tests/test_bpe.py).
    # Measured on the sf0.1 corpus: 8 merges in 4 collects.
    merges: list[tuple[int, str, str, int]] = []
    outputs: set[str] = set()  # every merged symbol ever produced
    rank = 0
    stopped = False
    while rank < n_merges and not stopped:
        k = min(n_merges - rank + 1, 8)
        top = (
            vocab.select("wc", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
            .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
            .agg(F.sum("wc").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pa").asc(), F.col("pb").asc())
            .limit(k)
            .collect()  # K rows — still ONE bounded driver decision
        )
        if not top or top[0]["c"] < MIN_PAIR_COUNT:
            break
        batch: list[tuple[str, str, int]] = []
        used: set[str] = set()
        chain_ok = True  # accepted prefix satisfies (B) so far
        for i, row in enumerate(top):
            a, b, c = row["pa"], row["pb"], int(row["c"])
            if i > 0:
                if not chain_ok or rank + len(batch) >= n_merges:
                    break
                if a in used or b in used:  # (A)
                    break
                if i + 1 < len(top):
                    if c <= int(top[i + 1]["c"]):  # (C) strict
                        break
                elif len(top) == k:
                    break  # truncated list: unknown pairs could tie c
                if c < MIN_PAIR_COUNT:
                    # p_i IS the argmax here (A/C proven), and it is
                    # below the floor — training ends, exactly as the
                    # one-at-a-time loop would decide next round
                    stopped = True
                    break
            batch.append((a, b, c))
            s = a + b
            if a == b or s in outputs:
                chain_ok = False  # (B) fails past this merge
            used.update((a, b, s))
            outputs.add(s)
        # LAZY checkpoint: the next round's top-K collect is the first
        # action over the merged vocab and its pair-count groupBy scans
        # every partition, so that one job both computes the round's
        # decision AND materializes/truncates the checkpoint — an eager
        # checkpoint here was a second job per round doing the same
        # scan. The merged relation is referenced exactly once per
        # round, so laziness cannot multiply upstream work.
        col = F.col("syms")
        for a, b, _c in batch:
            col = _merge_expr(col, a, b)  # composed folds, in order
        for a, b, c in batch:
            merges.append((rank, a, b, c))
            rank += 1
        vocab = vocab.withColumn("syms", col).localCheckpoint(eager=False)
    return merges, vocab


def bpe_merges_df(spark: SparkSession, merges) -> DataFrame:
    """The learned merge table as a relation (rank, left, right,
    weighted_count) — broadcastable state for a downstream apply
    stage or a MERGE-maintained tokenizer asset."""
    return spark.createDataFrame(
        merges, "rank int, left string, right string, weighted_count bigint"
    )


def bpe_segment(docs: DataFrame, merges) -> DataFrame:
    """Apply a learned merge table to NEW (doc_id, text) documents — the
    inference half of the trainer. Output: (doc_id, subwords
    array<string>) with each
    document's whitespace words segmented by replaying the merges in
    rank order.

    Merge application is inherently iterative per word (each merge
    rewrites the symbol sequence the next one reads), so this is the
    sanctioned pandas-tier escape hatch: an Arrow-batched mapInPandas
    whose closure captures the (tiny) merge list — the same
    ship-small-state-in-the-closure shape as the repo's multimodal
    ops. Per-word memoization inside each batch exploits the Zipf
    skew (a batch's distinct-word count is far below its token
    count). No shuffle: the op is a narrow map over documents.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import

    ranked = [(a, b) for _rank, a, b, _c in sorted(merges)]

    def seg_word(w: str, cache: dict) -> list[str]:
        hit = cache.get(w)
        if hit is not None:
            return hit
        syms = list(w)
        for a, b in ranked:
            if len(syms) < 2:
                break
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[w] = syms
        return syms

    def run(batches):
        for pdf in batches:
            cache: dict = {}
            out = [
                [s for w in (t.split() if t else []) for s in seg_word(w, cache)]
                for t in pdf["text"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "subwords": out})

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, subwords array<string>"
    )

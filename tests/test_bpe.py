"""BPE trainer parity: the distributed merge loop must reproduce a
straight-Python reference (same weighted counts, same lexicographic
tie-break, same left-to-right non-overlapping merge) exactly."""

from __future__ import annotations

from collections import Counter

from etl_inreach_spark.catalog import load_table
from etl_inreach_spark.operators.bpe import bpe_train


def _py_bpe(word_counts: dict[str, int], n_merges: int, min_pair_count: int = 2):
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            wc = word_counts[w]
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += wc
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), c = best
        if c < min_pair_count:
            break
        merges.append((rank, a, b, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_train_matches_python_reference(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    wc = Counter()
    for r in d.select("text").collect():
        for w in r["text"].split():
            wc[w] += 1
    ref_merges, ref_vocab = _py_bpe(dict(wc), 12)

    merges, vocab = bpe_train(d, 12)
    assert merges == ref_merges
    got = {r["word"]: (r["wc"], list(r["syms"])) for r in vocab.collect()}
    assert set(got) == set(ref_vocab)
    for w in ref_vocab:
        assert got[w] == (wc[w], ref_vocab[w]), w


def test_bpe_early_stop_and_tiny_corpus(spark):
    df = spark.createDataFrame(
        [("aa aa ab",), ("aa xy",)], "text string"
    )
    merges, vocab = bpe_train(df, 50)
    # ('a','a') appears in aa(x3 words? aa,aa,aa? -> words: aa:3, ab:1, xy:1)
    # pair (a,a) weighted 3 wins round 0; after that the only adjacent
    # pairs are (a,b) and (x,y) at count 1 < MIN_PAIR_COUNT = 2 -> stop.
    assert merges == [(0, "a", "a", 3)]
    got = {r["word"]: list(r["syms"]) for r in vocab.collect()}
    assert got == {"aa": ["aa"], "ab": ["a", "b"], "xy": ["x", "y"]}


def test_bpe_segment_consistent_with_training_vocab(spark, sf_dir):
    """Replaying the learned merges over the training corpus must
    reproduce exactly the trainer's final per-word symbolization."""
    from etl_inreach_spark.operators.bpe import bpe_segment

    d = load_table(spark, sf_dir, "documents")
    merges, vocab = bpe_train(d, 10)
    final_syms = {r["word"]: list(r["syms"]) for r in vocab.collect()}

    got = {
        r["doc_id"]: list(r["subwords"])
        for r in bpe_segment(d, merges).collect()
    }
    for r in d.select("doc_id", "text").collect():
        expect = [s for w in r["text"].split() for s in final_syms[w]]
        assert got[r["doc_id"]] == expect, r["doc_id"]


def test_bpe_batched_rounds_match_reference_on_adversarial_corpora(spark):
    """r12 focused test: bpe_train proves several merges per top-K
    collect; each safety condition (shared symbols, count ties,
    self-adjacent pairs, re-created merge outputs) must end the batch
    so the merge SEQUENCE still equals the one-at-a-time reference."""
    corpora = [
        # consecutive top pairs share symbols (th/he-style chaining)
        "the the the there he he she then the he " * 3,
        # exact count ties everywhere: lexicographic order must hold
        # with recounts between every merge
        "ab ab cd cd ef ef gh gh",
        # self-adjacent pair (a,a) dominates, then chains into (aa,aa)
        "aaaa aaaa aaaa bb bb aaab",
        # merged symbol re-created by a later merge: 'ab' from (a,b)
        # after ('a','b') was already produced via a different split
        "xab xab xab aby aby ab ab ab ab",
        # disjoint well-separated counts: the batch-friendly case
        "er er er er in in in or or st " * 4,
        # single word corpus, long run
        "zzzzzzzz",
    ]
    for text in corpora:
        df = spark.createDataFrame([(text,)], "text string")
        wc = Counter()
        for w in text.split():
            wc[w] += 1
        for n in (1, 3, 8):
            ref_merges, ref_vocab = _py_bpe(dict(wc), n)
            merges, vocab = bpe_train(df, n)
            assert merges == ref_merges, (text, n, merges, ref_merges)
            got = {r["word"]: list(r["syms"]) for r in vocab.collect()}
            assert got == ref_vocab, (text, n)

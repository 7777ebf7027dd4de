"""Tests for the training-data assembly operators: sequence packing,
contamination detection, repetition profiling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

CAP = 100


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def toks(n):
    return " ".join(f"w{i}" for i in range(n))


class TestPackChunks:
    def test_offsets_match_serial_prefix_sum(self, spark):
        from etl_inreach_spark.operators.packing import pack_chunks

        sizes = [7, 50, 100, 3, 260, 1, 99, 42]
        df = _docs(spark, [(i, toks(s)) for i, s in enumerate(sizes)]).withColumn(
            "_tokcnt", F.size(F.split("text", " "))
        )
        # tiny bucket count forces multi-doc buckets; the two-level
        # prefix sum must still equal the serial one
        out = (
            pack_chunks(df, capacity=CAP, num_buckets=3)
            .orderBy("doc_id")
            .collect()
        )
        offset = 0
        for row, s in zip(out, sizes):
            assert row.tok_offset == offset
            assert row.chunk_start == offset // CAP
            assert row.chunk_end == (offset + s - 1) // CAP
            assert row.n_chunks == row.chunk_end - row.chunk_start + 1
            offset += s

    def test_zero_token_docs_dropped(self, spark):
        from etl_inreach_spark.operators.packing import pack_chunks

        df = spark.createDataFrame(
            [(0, 5), (1, 0), (2, 3)], "doc_id bigint, _tokcnt int"
        )
        out = pack_chunks(df, capacity=CAP).orderBy("doc_id").collect()
        assert [r.doc_id for r in out] == [0, 2]
        assert [r.tok_offset for r in out] == [0, 5]

    def test_partitioning_invariance(self, spark):
        from etl_inreach_spark.operators.packing import pack_chunks

        df = spark.createDataFrame(
            [(i, (i * 37) % 90 + 1) for i in range(200)], "doc_id bigint, _tokcnt int"
        )
        a = pack_chunks(df, CAP).orderBy("doc_id").collect()
        b = (
            pack_chunks(df.repartition(7), CAP)
            .orderBy("doc_id")
            .collect()
        )
        assert a == b


class TestPackBinsNextfit:
    def test_nextfit_semantics_single_bucket(self, spark):
        from etl_inreach_spark.operators.packing import pack_bins_nextfit

        # capacity 100: [60, 30, 20, 150, 10] -> bins [1,1,2,3,4]
        sizes = [60, 30, 20, 150, 10]
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(sizes)], "doc_id bigint, _tokcnt int"
        )
        out = (
            pack_bins_nextfit(df, capacity=100, num_buckets=1)
            .orderBy("doc_id")
            .collect()
        )
        assert [r.bin_seq for r in out] == [1, 1, 2, 3, 4]
        assert [r.bin_fill for r in out] == [60, 90, 20, 150, 10]

    def test_fill_respects_capacity_unless_oversized(self, spark):
        from etl_inreach_spark.operators.packing import pack_bins_nextfit

        df = spark.createDataFrame(
            [(i, (i * 53) % 140 + 1) for i in range(300)], "doc_id bigint, _tokcnt int"
        )
        out = pack_bins_nextfit(df, capacity=100, num_buckets=8)
        bad = out.filter((F.col("bin_fill") > 100) & (F.col("n_tokens") <= 100))
        assert bad.count() == 0

    def test_bin_seq_contiguous_per_bucket(self, spark):
        from etl_inreach_spark.operators.packing import pack_bins_nextfit

        df = spark.createDataFrame(
            [(i, (i * 29) % 80 + 1) for i in range(200)], "doc_id bigint, _tokcnt int"
        )
        out = pack_bins_nextfit(df, capacity=100, num_buckets=4)
        per = (
            out.groupBy("bucket")
            .agg(F.max("bin_seq").alias("mx"), F.count_distinct("bin_seq").alias("n"))
            .collect()
        )
        for r in per:
            assert r.mx == r.n  # 1..n with no gaps


class TestContamination:
    def test_planted_duplicate_is_fully_contaminated(self, spark):
        from etl_inreach_spark.operators.corpus import contamination_ngrams

        bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        clean_text = "one two three four five six seven eight nine ten eleven"
        df = _docs(
            spark,
            [
                (0, bench_text),  # benchmark doc
                (1, bench_text),  # exact copy -> contamination 1.0
                (2, clean_text),  # disjoint -> contamination 0.0
            ],
        )
        out = {
            r.doc_id: r
            for r in contamination_ngrams(df, bench_pred=F.col("doc_id") == 0).collect()
        }
        assert set(out) == {1, 2}
        assert out[1].contamination == 1.0 and out[1].contaminated
        assert out[2].contamination == 0.0 and not out[2].contaminated

    def test_partial_overlap_bounded(self, spark):
        from etl_inreach_spark.operators.corpus import contamination_ngrams

        df = _docs(
            spark,
            [
                (0, "shared prefix words here then bench tail words"),
                (1, "shared prefix words here then other tail stuff"),
            ],
        )
        out = contamination_ngrams(df, bench_pred=F.col("doc_id") == 0).collect()
        (r,) = out
        assert 0.0 < r.contamination < 1.0


class TestRepetitionProfile:
    def test_hand_computed_fractions(self, spark):
        from etl_inreach_spark.operators.corpus import repetition_profile

        # "a b a b a": n=5, top(a)=3, uniq=2; bigrams: ab,ba,ab,ba ->
        # uniq 2 of 4 -> dup_2gram = 0.5
        df = _docs(spark, [(0, "a b a b a")])
        (r,) = repetition_profile(df, "doc_id", "text").collect()
        assert r.n_tokens == 5
        assert r.top_word_frac == pytest.approx(3 / 5)
        assert r.dup_word_frac == pytest.approx(3 / 5)
        assert r.dup_2gram_frac == pytest.approx(0.5)
        assert not r.keep  # top_word_frac 0.6 > 0.1

    def test_all_distinct_keeps(self, spark):
        from etl_inreach_spark.operators.corpus import repetition_profile

        df = _docs(spark, [(0, toks(20))])
        (r,) = repetition_profile(df, "doc_id", "text").collect()
        assert r.top_word_frac == pytest.approx(1 / 20)
        assert r.dup_word_frac == 0.0
        assert r.dup_2gram_frac == 0.0
        assert r.keep

    def test_single_token_docs_dropped(self, spark):
        from etl_inreach_spark.operators.corpus import repetition_profile

        df = _docs(spark, [(0, "solo"), (1, "two words")])
        out = repetition_profile(df, "doc_id", "text").collect()
        assert [r.doc_id for r in out] == [1]


class TestShingleParity:
    """The Arrow/numpy rendering of shingles_exploded must equal a
    per-gram Python replay of the 60-bit polynomial+affine hash over
    code points — sets, multisets, and positions — including len==k
    documents and non-ASCII text (ADVICE r2: this parity was claimed
    but untested, and silently depended on split('') semantics that
    changed in SPARK-40194)."""

    K = 4

    def _corpus(self, spark):
        rows = [
            (0, "hello world, this is a document"),
            (1, "abcd"),                      # len == k: exactly one gram
            (2, "abc"),                       # len < k: zero grams
            (3, "aaaaaaaaaaaaaaaa"),          # degenerate repetition
            (4, "héllo wörld — naïve café"),  # non-ASCII BMP
            (5, "日本語のテキストです"),          # CJK
            (6, "mississippi mississippi"),   # repeated grams (multiset != set)
        ]
        return _docs(spark, rows)

    def _hash60(self, gram):
        from etl_inreach_spark.operators import text_dedup as td

        h1 = 0
        for c in gram:
            h1 = (h1 * td.POLY_P + ord(c)) % td.MERSENNE31
        h2 = (td.POLY_A2 * h1 + td.POLY_B2) % td.MERSENNE31
        mask = (1 << 30) - 1
        return (h1 & mask) + ((h2 & mask) << 30)

    def _both(self, spark, distinct, keep_pos=False):
        from etl_inreach_spark.operators import text_dedup as td

        df = self._corpus(spark)
        fast = td.shingles_exploded(
            df, self.K, distinct=distinct, keep_pos=keep_pos
        )
        # (_id, _p, _h) rows of the per-gram replay
        slow = [
            (r.doc_id, p, self._hash60(r.text[p : p + self.K]))
            for r in df.collect()
            for p in range(len(r.text) - self.K + 1)
        ]
        return fast, slow

    def test_set_parity(self, spark):
        fast, slow = self._both(spark, distinct=True)
        a = sorted(map(tuple, fast.select("_id", "_h").collect()))
        b = sorted({(i, h) for i, _, h in slow})
        assert a == b and len(a) > 0

    def test_multiset_and_position_parity(self, spark):
        fast, slow = self._both(spark, distinct=False, keep_pos=True)
        a = sorted(map(tuple, fast.select("_id", "_p", "_h").collect()))
        b = sorted(slow)
        assert a == b and len(a) > 0
        # gram count per doc must be len-k+1 (char-count len, not bytes)
        from collections import Counter

        per_doc = Counter(t[0] for t in a)
        texts = dict((r.doc_id, r.text) for r in self._corpus(spark).collect())
        for did, text in texts.items():
            expect = max(len(text) - self.K + 1, 0)
            assert per_doc.get(did, 0) == expect, (did, text)


class TestSimhashLaneOverflow:
    """ADVICE r2 (high): a ~40k-char repetitive document overflowed a
    15-bit lane and silently zeroed the sketch. The chunked
    position-keyed aggregation must return the TRUE sketch."""

    K = 5
    BITS = 60

    def _sh(self, spark, keep_pos):
        from etl_inreach_spark.operators import text_dedup as td

        # every gram identical -> per-bit counts hit 40k-4 >> 2^15
        df = _docs(spark, [(0, "a" * 40_000)])
        return td.shingles_exploded(df, self.K, distinct=False, keep_pos=keep_pos)

    def test_chunked_sketch_is_exact(self, spark):
        from etl_inreach_spark.operators import text_dedup as td

        sk = td.simhash_sketch(self._sh(spark, keep_pos=True))
        [row] = sk.collect()
        # all-identical shingles: majority vote reproduces the gram
        # hash itself (every set bit wins n-0, every unset bit 0-n)
        [expect] = (
            self._sh(spark, keep_pos=True)
            .select("_h").distinct().collect()
        )
        assert row._sim == expect._h != 0

    def test_small_doc_paths_agree(self, spark):
        """The lane-packed chunked sketch equals a plain per-bit majority
        vote over the same 60-bit gram hashes."""
        from collections import defaultdict

        from etl_inreach_spark.operators import text_dedup as td

        df = _docs(spark, [(i, t) for i, t in enumerate(
            ["the quick brown fox jumps over the lazy dog",
             "pack my box with five dozen liquor jugs",
             "aaaaabbbbbaaaaabbbbb"])])
        sh = td.shingles_exploded(df, self.K, distinct=False, keep_pos=True)
        hashes = defaultdict(list)
        for r in sh.select("_id", "_h").collect():
            hashes[r["_id"]].append(r["_h"])
        want = {
            doc: sum(
                1 << b
                for b in range(self.BITS)
                if 2 * sum((h >> b) & 1 for h in hs) > len(hs)
            )
            for doc, hs in hashes.items()
        }
        got = dict(map(tuple, td.simhash_sketch(sh).collect()))
        assert got == want and len(got) == 3


class TestChunking:
    def test_chunk_shapes_and_overlap(self, spark):
        from etl_inreach_spark.operators.chunking import chunk_tokens

        # 10 tokens, capacity 4, stride 3 -> starts 0,3,6,9
        text = " ".join(f"t{i}" for i in range(10))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(
            (r["chunk_idx"], r["start_tok"], r["n_tokens"], r["chunk_text"])
            for r in chunk_tokens(df, capacity=4, stride=3).collect()
        )
        assert rows == [
            (0, 0, 4, "t0 t1 t2 t3"),
            (1, 3, 4, "t3 t4 t5 t6"),
            (2, 6, 4, "t6 t7 t8 t9"),
            (3, 9, 1, "t9"),
        ]

    def test_chunk_empty_and_whitespace_docs(self, spark):
        from etl_inreach_spark.operators.chunking import chunk_tokens

        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "one")], "doc_id long, text string"
        )
        rows = chunk_tokens(df).collect()
        assert [(r["doc_id"], r["n_tokens"], r["chunk_text"]) for r in rows] == [
            (3, 1, "one")
        ]

    def test_chunk_gap_stride_larger_than_capacity(self, spark):
        """stride > capacity = sampled (non-covering) windows; token
        counts must still clamp to capacity, never negative."""
        from etl_inreach_spark.operators.chunking import chunk_tokens

        text = " ".join(f"t{i}" for i in range(7))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(
            (r["start_tok"], r["n_tokens"])
            for r in chunk_tokens(df, capacity=2, stride=5).collect()
        )
        assert rows == [(0, 2), (5, 2)]

    def test_chunk_rejects_bad_params(self, spark):
        import pytest as _pytest

        from etl_inreach_spark.operators.chunking import chunk_tokens

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            chunk_tokens(df, capacity=0)
        with _pytest.raises(ValueError):
            chunk_tokens(df, stride=0)

    def test_single_tokenization_in_plan(self, spark):
        """Catalyst substitutes multiply-referenced aliases into every
        consumer (round-3 from_xml lesson); the lambda-bind in
        chunk_tokens must keep the expensive split+filter tokenization
        at EXACTLY one occurrence in the optimized plan."""
        from etl_inreach_spark.operators.chunking import chunk_tokens

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = (
            chunk_tokens(df)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("split(text") == 1, plan

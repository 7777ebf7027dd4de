"""Semantics tests for the curation/analytics queries on CRAFTED
inputs (tiny parquet tables written to tmp_path, exercised through the
registered query functions themselves — same read path, same plans).
The sf0.01 DuckDB oracle gate proves engine parity; these pin the
intended SEMANTICS on inputs chosen to hit the edges (duplicate spans,
state flips, gap runs, join windows)."""

from __future__ import annotations

from datetime import datetime

from etl_inreach_spark.queries import all_queries


def _write_documents(spark, path, texts):
    rows = [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _write_events(spark, path, rows):
    rows = [
        (e, datetime.strptime(ts, "%Y-%m-%d %H:%M:%S"), u, t, v, p_)
        for (e, ts, u, t, v, p_) in rows
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_segment_dedup_rebuild_semantics(spark, tmp_path):
    sf = str(tmp_path)
    seg_a = " ".join(f"a{i}" for i in range(10))
    seg_b = " ".join(f"b{i}" for i in range(10))
    seg_c = " ".join(f"c{i}" for i in range(10))
    _write_documents(
        spark,
        sf,
        [
            f"{seg_a} {seg_b}",  # doc0: both segments first occurrences
            f"{seg_a} {seg_c}",  # doc1: seg_a is a repeat, seg_c fresh
            f"{seg_b} {seg_a}",  # doc2: both repeats -> empty rebuild
            "tail only three",  # doc3: single partial segment, fresh
        ],
    )
    out = {
        r["doc_id"]: r
        for r in all_queries()["segment_dedup_rebuild"](spark, sf).collect()
    }
    assert out[0]["n_segments"] == 2 and out[0]["n_kept"] == 2
    assert out[0]["cleaned_text"] == f"{seg_a} {seg_b}"
    assert out[1]["n_kept"] == 1 and out[1]["cleaned_text"] == seg_c
    assert out[2]["n_kept"] == 0 and out[2]["cleaned_text"] == ""
    assert out[3]["n_kept"] == 1 and out[3]["cleaned_text"] == "tail only three"


def test_scd2_user_state_semantics(spark, tmp_path):
    sf = str(tmp_path)
    t = "2024-01-01 00:{m:02d}:00"
    _write_events(
        spark,
        sf,
        [
            (0, t.format(m=0), 1, "view", 1.0, "{}"),
            (1, t.format(m=1), 1, "view", 1.0, "{}"),
            (2, t.format(m=2), 1, "click", 1.0, "{}"),
            (3, t.format(m=3), 1, "view", 1.0, "{}"),
        ],
    )
    rows = sorted(
        all_queries()["scd2_user_state"](spark, sf).collect(),
        key=lambda r: r["state_seq"],
    )
    assert [r["state"] for r in rows] == ["view", "click", "view"]
    assert [r["n_events"] for r in rows] == [2, 1, 1]
    # interval chaining: each valid_to is the next valid_from; only the
    # last interval is open/current
    assert rows[0]["valid_to"] == rows[1]["valid_from"]
    assert rows[1]["valid_to"] == rows[2]["valid_from"]
    assert [r["is_current"] for r in rows] == [False, False, True]


def test_resample_gapfill_locf(spark, tmp_path):
    sf = str(tmp_path)
    _write_events(
        spark,
        sf,
        [
            (0, "2024-01-01 00:10:00", 1, "view", 5.0, "{}"),
            (1, "2024-01-01 00:40:00", 1, "view", 7.0, "{}"),  # later in same hour wins
            (2, "2024-01-01 03:30:00", 1, "view", 9.0, "{}"),
            (3, "2024-01-01 00:20:00", 2, "view", 1.0, "{}"),
        ],
    )
    out = {
        (r["user_id"], str(r["hour"])): r
        for r in all_queries()["resample_gapfill_events"](spark, sf).collect()
    }
    # spine spans hours 00..03 for BOTH users
    assert len(out) == 8
    u1 = [out[(1, f"2024-01-01 0{h}:00:00")] for h in range(4)]
    assert [r["value"] for r in u1] == [7.0, 7.0, 7.0, 9.0]
    assert [r["observed"] for r in u1] == [True, False, False, True]
    u2 = [out[(2, f"2024-01-01 0{h}:00:00")] for h in range(4)]
    assert [r["value"] for r in u2] == [1.0, 1.0, 1.0, 1.0]
    assert [r["observed"] for r in u2] == [True, False, False, False]


def test_stream_stream_join_window(spark, tmp_path):
    sf = str(tmp_path)
    _write_events(
        spark,
        sf,
        [
            (10, "2024-01-01 10:00:00", 1, "click", 0.0, "{}"),
            (11, "2024-01-01 10:30:00", 1, "purchase", 9.0, "{}"),  # in window
            (12, "2024-01-01 12:00:00", 1, "purchase", 9.0, "{}"),  # too late
            (13, "2024-01-01 09:59:00", 1, "purchase", 9.0, "{}"),  # before click
            (14, "2024-01-01 10:30:00", 2, "purchase", 9.0, "{}"),  # other user
        ],
    )
    rows = all_queries()["streaming_stream_stream_join"](spark, sf).collect()
    assert [(r["click_id"], r["purchase_id"]) for r in rows] == [(10, 11)]


def test_stratified_and_reservoir_deterministic(spark, tmp_path):
    sf = str(tmp_path)
    _write_documents(spark, sf, [f"w{i} x y" for i in range(30)])
    q = all_queries()
    a = sorted(r["doc_id"] for r in q["stratified_sample_documents"](spark, sf).collect())
    b = sorted(r["doc_id"] for r in q["stratified_sample_documents"](spark, sf).collect())
    assert a == b  # decision is a pure function of doc_id, not of RNG state
    # manual replication of the threshold rule for one row
    h = (7 * 2654435761) % 4294967296
    src_odd = 7 % 3 in (1,)  # doc 7 -> src1 -> odd -> 75% rate
    expected_in = h < (3 * 4294967296 // 4 if src_odd else 4294967296 // 4)
    assert (7 in a) == expected_in
    res = q["reservoir_sample_per_source"](spark, sf).collect()
    per_src = {}
    for r in res:
        per_src.setdefault(r["source"], []).append(r["sample_rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 5
               for v in per_src.values())


def test_pseudonymize_formula(spark, tmp_path):
    sf = str(tmp_path)
    rows = [(k, f"Customer#{k:09d}", 0, 0.0, "SEG") for k in (0, 1, 424)]
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/customer.parquet")
    out = {
        r["c_custkey"]: r["masked_name"]
        for r in all_queries()["pseudonymize_customers"](spark, sf).collect()
    }
    for k in (0, 1, 424):
        assert out[k] == f"Customer#{(k * 2654435761) % 4294967296}"


def test_udtf_token_runs_semantics(spark, tmp_path):
    sf = str(tmp_path)
    _write_documents(spark, sf, ["a a b c c c b", "x y z"])
    rows = sorted(
        all_queries()["udtf_token_runs"](spark, sf).collect(),
        key=lambda r: (r["doc_id"], r["start_pos"]),
    )
    assert [(r["doc_id"], r["token"], r["start_pos"], r["run_len"]) for r in rows] == [
        (0, "a", 1, 2),
        (0, "c", 4, 3),
    ]


def test_morton_interleave_known_values(spark):
    from pyspark.sql import functions as F

    from etl_inreach_spark.functions.vectors import morton_interleave16

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 1), (65535, 65535)], "x long, y long"
    )
    out = [
        r["z"]
        for r in df.select(
            morton_interleave16(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    # interleave: x bits at even positions, y at odd
    assert out == [0, 1, 2, 0b0111, (1 << 32) - 1]


def test_groupwise_split_sources_atomic(spark, sf_dir):
    """Leakage-safety invariant: a source never straddles splits, and
    the assignment is deterministic across evaluations."""
    from etl_inreach_spark.queries_curation import groupwise_split_documents

    rows = groupwise_split_documents(spark, sf_dir).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_source.values()), by_source
    assert set().union(*by_source.values()) <= {"train", "val", "test"}
    again = {r["doc_id"]: r["split"] for r in groupwise_split_documents(spark, sf_dir).collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in rows)


def test_compress_consecutive_is_transition_log(spark, sf_dir):
    """The kept rows are exactly the per-user event_type transitions of
    the (ts, event_id)-ordered timeline — recomputed in Python."""
    from etl_inreach_spark.catalog import load_table
    from etl_inreach_spark.queries_curation import compress_consecutive_events

    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    expected = set()
    prev_user, prev_type = None, None
    for r in ev:
        if r["user_id"] != prev_user or r["event_type"] != prev_type:
            expected.add(r["event_id"])
        prev_user, prev_type = r["user_id"], r["event_type"]
    got = {r["event_id"] for r in compress_consecutive_events(spark, sf_dir).collect()}
    assert got == expected


def test_token_budget_select_prefix_semantics(spark, sf_dir):
    """Selection must equal the Python-recomputed quality-ordered
    prefix: same doc set, same cumulative sums, budget respected."""
    from etl_inreach_spark.queries_curation import token_budget_select
    from etl_inreach_spark.queries_extended import text_stats

    stats = [
        r
        for r in text_stats(spark, sf_dir).collect()
        if r["n_tokens"] and r["n_tokens"] > 0
    ]
    stats.sort(key=lambda r: (-r["quality_score"], r["doc_id"]))
    expected, cum = {}, 0
    for r in stats:
        cum += r["n_tokens"]
        if cum > 20_000:
            break
        expected[r["doc_id"]] = cum
    got = {r["doc_id"]: r["cum_tokens"] for r in token_budget_select(spark, sf_dir).collect()}
    assert got == expected


def test_tpch_q14_ratio_consistency(spark, sf_dir):
    from etl_inreach_spark.queries_analytics import tpch_q14_promo_revenue

    rows = tpch_q14_promo_revenue(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["promo_revenue"] <= r["total_revenue"]
        assert r["promo_pct"] == 100.0 * r["promo_revenue"] / r["total_revenue"]
        assert 190001 <= r["ship_yearmonth"] <= 210012

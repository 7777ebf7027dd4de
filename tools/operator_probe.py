"""Timing probe for the round-5 operator-library additions on the
real driver testdata (they are not registry queries yet, so
tools/scale_probe.py cannot reach them). Prints one JSON line per
operator with wall-clock and output size at the given sf dir —
run solo (bench discipline applies).

Usage: python tools/operator_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_inreach_spark.catalog import load_table  # noqa: E402
from etl_inreach_spark.session import get_spark  # noqa: E402


def timed(fn):
    t0 = time.monotonic()
    out = fn()
    return round(time.monotonic() - t0, 2), out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("operator-probe")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    n_vec = emb.count()
    n_doc = docs.count()

    # IVF-PQ: build once, search a bounded 32-query set (the repo's
    # ANN-query convention), 64-dim -> 8 subspaces x 16 codes.
    from etl_inreach_spark.operators.pq import ivf_pq_build, ivf_pq_topk

    t_build, (cells, books, index) = timed(
        lambda: ivf_pq_build(emb, nlist=8, num_sub=8, ksub=16, iters=3, dim=64)
    )
    queries = emb.orderBy("vec_id").limit(32).selectExpr(
        "vec_id as q_id", "embedding"
    ).localCheckpoint(eager=True)
    t_search, rows = timed(
        lambda: ivf_pq_topk(
            index, cells, books, queries, k=10, nprobe=2, num_sub=8, dim=64
        ).count()
    )
    results["ivf_pq"] = {
        "n_vectors": n_vec,
        "build_sec": t_build,
        "search32_sec": t_search,
        "result_rows": rows,
    }

    # BPE: 50 merges over the full document corpus.
    from etl_inreach_spark.operators.bpe import bpe_segment, bpe_train

    t_train, (merges, vocab) = timed(lambda: bpe_train(docs, 50))
    n_vocab = vocab.count()
    t_seg, seg_rows = timed(
        lambda: bpe_segment(docs, merges).count()
    )
    results["bpe"] = {
        "n_docs": n_doc,
        "vocab_words": n_vocab,
        "merges_learned": len(merges),
        "train_sec": t_train,
        "segment_sec": t_seg,
        "segment_rows": seg_rows,
    }

    # Priority sample + negative sample + global index over documents.
    from etl_inreach_spark.operators.indexing import negative_sample
    from etl_inreach_spark.operators.sampling import priority_sample

    t_ps, ps_rows = timed(
        lambda: priority_sample(docs, 1000).count()
    )
    results["priority_sample"] = {"n_docs": n_doc, "k": 1000, "sec": t_ps, "rows": ps_rows}

    t_ns, ns_rows = timed(
        lambda: negative_sample(docs, 4).count()
    )
    results["negative_sample"] = {"n_docs": n_doc, "k": 4, "sec": t_ns, "pairs": ns_rows}

    # KMV overlap estimation between two event-type user populations.
    from pyspark.sql import functions as F

    from etl_inreach_spark.operators.kmv import kmv_set_estimates, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    n_ev = ev.count()

    def _kmv():
        a = kmv_sketch(ev.filter(F.col("event_type") == "click"), F.col("user_id"), 256)
        b = kmv_sketch(ev.filter(F.col("event_type") == "view"), F.col("user_id"), 256)
        return kmv_set_estimates(a, b, 256).first()

    t_kmv, row = timed(_kmv)
    results["kmv_overlap"] = {
        "n_events": n_ev,
        "sec": t_kmv,
        "jaccard_est": round(row["jaccard_est"], 4),
    }

    from etl_inreach_spark.operators.heavyhitters import heavy_hitters

    t_hh, hh_rows = timed(lambda: heavy_hitters(ev, "user_id", k=64).count())
    results["heavy_hitters"] = {"n_events": n_ev, "k": 64, "sec": t_hh, "rows": hh_rows}

    # Round-6: collocation lift + bigram LM scoring (thresholds scale
    # with the corpus so the surviving vocabulary stays a fixed slice
    # and cross-SF timings are comparable).
    from etl_inreach_spark.operators.cooccur import (
        bigram_lm_score,
        term_cooccurrence_lift,
    )

    min_df = max(2, n_doc // 120)
    t_lift, lift_rows = timed(
        lambda: term_cooccurrence_lift(
            docs, min_df=min_df, min_pair_df=max(2, min_df // 2)
        ).count()
    )
    results["term_lift"] = {
        "n_docs": n_doc,
        "min_df": min_df,
        "sec": t_lift,
        "pairs": lift_rows,
    }

    t_lm, lm_rows = timed(lambda: bigram_lm_score(docs).count())
    results["bigram_lm_score"] = {"n_docs": n_doc, "sec": t_lm, "rows": lm_rows}

    # Round-6: z-ordered write + zonemap prune fractions (64 files,
    # mean over five 10%-of-domain slabs per column).
    import tempfile

    from etl_inreach_spark.operators.zorder import (
        file_envelopes,
        files_to_read,
        write_zordered,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("bigint").alias("o_secs"),
    )
    n_ord = o.count()
    with tempfile.TemporaryDirectory() as td:
        zpath = os.path.join(td, "z")
        t_zw, _ = timed(
            lambda: write_zordered(o, zpath, num_files=64)
        )
        env = file_envelopes(zpath)
        dom = o.agg(
            F.min("o_custkey").alias("cl"), F.max("o_custkey").alias("ch"),
            F.min("o_secs").alias("sl"), F.max("o_secs").alias("sh"),
        ).first()

        def mean_frac(col, lo, hi):
            span = hi - lo
            fr = [
                len(
                    files_to_read(
                        env, col, lo + int(span * s), lo + int(span * (s + 0.1))
                    )
                )
                / len(env)
                for s in (0.05, 0.25, 0.45, 0.65, 0.85)
            ]
            return round(sum(fr) / len(fr), 3)

        results["write_zordered"] = {
            "n_rows": n_ord,
            "files": len(env),
            "write_sec": t_zw,
            "read_frac_custkey": mean_frac("o_custkey", dom["cl"], dom["ch"]),
            "read_frac_date": mean_frac("o_secs", dom["sl"], dom["sh"]),
        }

    # Round-6: bucketed-table write + exchange-free join vs the plain
    # shuffled join on the same relations.
    import uuid

    from etl_inreach_spark.sinks.bucketed import bucketed_equijoin, write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    t1 = f"probe_o_{uuid.uuid4().hex[:8]}"
    t2 = f"probe_l_{uuid.uuid4().hex[:8]}"
    try:
        t_bw, _ = timed(
            lambda: (
                write_bucketed(o, t1, ["o_orderkey"], 16),
                write_bucketed(li, t2, ["o_orderkey"], 16),
            )
        )
        t_bj, bj_rows = timed(
            lambda: bucketed_equijoin(spark, t1, t2, ["o_orderkey"]).count()
        )
        t_pj, _ = timed(lambda: o.join(li, "o_orderkey").count())
        results["bucketed_join"] = {
            "n_left": n_ord,
            "write_sec": t_bw,
            "bucketed_join_sec": t_bj,
            "shuffled_join_sec": t_pj,
            "rows": bj_rows,
        }
    finally:
        for t in (t1, t2):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    # Round-6: incremental dedup — seed the state with the WHOLE
    # corpus, then measure a FIXED-SIZE 500-doc increment. The claim
    # under test: increment cost is O(batch + collisions), flat as
    # the corpus grows 10x.
    from etl_inreach_spark.operators.incremental_dedup import incremental_dedup

    with tempfile.TemporaryDirectory() as td:
        st = os.path.join(td, "state")
        t_seed, _ = timed(
            lambda: incremental_dedup(spark, docs, st, "seed").count()
        )
        inc = (
            docs.orderBy("doc_id")
            .limit(500)
            .withColumn("doc_id", F.col("doc_id") + 10_000_000)
        ).localCheckpoint(eager=True)
        t_inc, _ = timed(
            lambda: incremental_dedup(spark, inc, st, "inc").count()
        )
        results["incremental_dedup"] = {
            "n_docs_state": n_doc,
            "seed_sec": t_seed,
            "increment500_sec": t_inc,
        }

    # Round-6: deterministic integer-grid k-means — fit cost is
    # max_iter corpus scans with k*d-row shuffles; the claim under
    # test is near-linear fit wall-clock in corpus size and a
    # shuffle-free assignment pass.
    from etl_inreach_spark.operators.clustering import kmeans_assign, kmeans_fit

    t_fit, model = timed(lambda: kmeans_fit(emb, k=16, max_iter=25))
    t_asg, n_asg = timed(lambda: kmeans_assign(emb, model).count())
    results["kmeans"] = {
        "n_vectors": n_vec,
        "fit_sec": t_fit,
        "n_iter": model.n_iter,
        "converged": model.converged,
        "assign_sec": t_asg,
        "assigned": n_asg,
    }

    print(json.dumps({"sf_dir": sf_dir, "operators": results}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

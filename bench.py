"""Benchmark harness: runs every registered query at the bench scale
factor and prints ONE JSON line the driver records as BENCH_r{N}.json.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] thread count (default 32)

Each query is timed by `tools.measure.measure`: build plus a `noop`
format write, so the measurement covers the full distributed plan
(scan -> shuffle -> sink) without driver-side collect overhead. Timings
are wall-clock seconds.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

from etl_inreach_spark.queries import all_queries  # noqa: E402
from etl_inreach_spark.session import get_spark  # noqa: E402
from tools.measure import drop_blocks, measure, warm_up  # noqa: E402


def _spin() -> int:
    t0 = time.monotonic()
    n = 0
    while time.monotonic() - t0 < 0.25:
        n += 1
    return n


def _calibrate(cpus: int) -> dict:
    """~1s single-core + parallel spin benchmark of the host.

    fork() + pipes, not multiprocessing: no pickling, no dependence on
    how this module was loaded, and the children are pure busy loops."""
    single = _spin()
    pipes: list[tuple[int, int]] = []
    try:
        for _ in range(cpus):
            r, w = os.pipe()
            pid = os.fork()
            if pid == 0:  # child
                try:
                    os.close(r)
                    os.write(w, str(_spin()).encode())
                finally:
                    os._exit(0)
            os.close(w)
            pipes.append((pid, r))
        counts = []
        for pid, r in pipes:
            with os.fdopen(r) as fh:
                data = fh.read().strip()
            os.waitpid(pid, 0)
            if data:
                counts.append(int(data))
        pipes = []
        if not counts:
            return {"spin_single": single}
        return {
            "spin_single": single,
            "spin_par_min": min(counts),
            "spin_par_max": max(counts),
        }
    except Exception:
        # reap/close whatever was already forked so a mid-loop failure
        # doesn't leave zombies + open fds for the rest of the bench
        for pid, r in pipes:
            try:
                os.close(r)
            except OSError:
                pass
            try:
                os.waitpid(pid, 0)
            except OSError:
                pass
        return {"spin_single": single}


def build_spark(cpus: int) -> SparkSession:
    # the library session builder — bench must run under the same
    # profile as every other consumer so recorded numbers track tuning
    return get_spark("etl-inreach-spark-bench", cpus=cpus)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    # Host calibration: recorded so round-over-round comparisons can be
    # normalized for host-VM speed. Round-4 finding: the host's vCPUs
    # are heterogeneous (~3x single-core spread) with intermittent
    # multi-second scheduling stalls invisible to in-guest PSI — a
    # trivial 11 MB aggregation spiked 1.6 -> 14.8 s run-to-run. The
    # min-of-N repeat policy below exists precisely to discard
    # stall-affected runs.
    host_cal = _calibrate(cpus)

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    warm_up(spark)

    qs = all_queries()
    # streaming_dedup_ids drains a Structured Streaming checkpoint over
    # a per-run parquet fixture: its wall-clock is dominated by fixture
    # construction + state-store machinery, not query execution, so it
    # stays under the sf0.01 correctness gate but out of the batch
    # throughput headline.
    qs.pop("streaming_dedup_ids", None)
    qs.pop("streaming_stateful_latest", None)
    qs.pop("streaming_groupstate_latest", None)
    qs.pop("upsert_merge_roundtrip", None)  # sink fixture: tmp-table writes
    qs.pop("incremental_agg_merge", None)  # sink fixture: tmp-table writes
    qs.pop("partitioned_sink_prune", None)  # sink fixture: tmp-table writes
    qs.pop("csv_roundtrip_orders", None)  # sink fixture: tmp-table writes
    qs.pop("streaming_tumbling_counts", None)
    qs.pop("streaming_sliding_counts", None)
    qs.pop("streaming_stream_stream_join", None)
    qs.pop("streaming_static_enrich", None)
    # r7 lakehouse gates: each builds its own tmp-dir fixture (state
    # dirs, bucketed catalog tables, compaction scratch, mergeSchema
    # append log, 5-file media fixture) — same rationale as the sink
    # fixtures above: wall-clock measures fixture construction, not
    # query execution. All stay under the sf0.01 correctness gate.
    qs.pop("incremental_dedup_convergence", None)
    qs.pop("bucketed_join_revenue", None)
    qs.pop("compaction_roundtrip_orders", None)
    qs.pop("schema_evolution_merge", None)
    qs.pop("binary_media_metadata", None)
    # min-of-4: the first run pays codegen compile (multi-second for
    # the wide unrolled plans), and on slower host VMs the iterative
    # checkpoint-heavy queries only reach steady state on run 3
    # (measured: dedup_clusters 12.6/15.2/5.5/5.7 on a cold JVM) —
    # min-of-2/3 let that warmup noise pollute round-over-round
    # comparison (VERDICT r2; round-4 host-speed regression).
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "4"))
    # Spark JOB COUNT per query: wall-clock on this host is
    # stall-dominated (scheduler stalls spread identical plans over a
    # 2-6x range), but the number of jobs an operator launches is a
    # pure function of its convergence/checkpoint behavior — the
    # stall-proof regression metric (already used for CC: 54->44 and
    # 39->29 across rounds). Counted by measure() from the status
    # store for EVERY query (VERDICT r7 item 6); the
    # emitted map keeps the multi-job pipelines (> 5 jobs) plus the
    # five legacy iterative names for round-over-round comparability.
    # min across repeats (AQE warm-path can shave a job on later
    # runs — min matches the timing policy).
    always_jobs = {
        "dedup_clusters",
        "dedup_clusters_star",
        "pagerank3_copurchase",
        "walk3_centrality",
        "triangle_count_copurchase",
    }
    jobs: dict[str, int] = {}
    timings: dict[str, float] = {}

    def _run_once(name: str, rep: int) -> None:
        try:
            rec = measure(spark, f"bench:{name}:{rep}", lambda: qs[name](spark, sf_dir))
            dt = rec["wall_s"]
            prev = timings.get(name)
            timings[name] = dt if prev is None or prev < 0 else min(prev, dt)
            jobs[name] = min(jobs.get(name, rec["jobs"]), rec["jobs"])
        except Exception as e:  # keep the bench line parseable on failure
            print(f"bench: {name} FAILED: {e}", file=sys.stderr)
            # a later transient failure must not discard a valid
            # earlier timing; only an all-repeats failure is -1
            timings.setdefault(name, -1.0)

    for name in sorted(qs):
        for rep in range(max(repeats, 1)):
            _run_once(name, rep)
        drop_blocks(spark)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    payload = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        # host cores, so an oversubscribed run is not read as cpus-way data
        "nproc": os.cpu_count(),
        "n_queries": len(timings),
        "failed": sorted(n for n, t in timings.items() if t < 0),
        "jobs": {
            n: c
            for n, c in sorted(jobs.items())
            if c > 5 or n in always_jobs
        },
        "host_calibration": host_cal,
    }
    # Compact separators: the driver's stdout capture keeps a bounded
    # TAIL, and BENCH_r03.json lost the head of the (space-padded) line
    # to that window. Also persist the full object next to this script —
    # BENCH_LAST.json is the in-repo record that never depends on the
    # driver's capture width.
    line = json.dumps(payload, separators=(",", ":"))
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"),
            "w",
        ) as fh:
            fh.write(line + "\n")
    except OSError as e:
        print(f"bench: could not write BENCH_LAST.json: {e}", file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()

"""Core-scaling probe at replicated scale (VERDICT r11 item 8).

The driver's 8-vs-32-core scaling block at sf0.1 is fixed-cost
dominated (every per-query ratio ~1): at that SF nearly every query is
plan-build + job-scheduling + AQE barriers, which cores don't amortize.
This probe produces REAL parallel-scaling evidence by replicating the
input tables R times (tools/scale_probe.make_replica_dir — entity
domains offset per copy, so joins stay valid and graph/corpus structure
multiplies like a real scale-up) and timing the heavy queries once per
core count in separate processes.

One invocation = one core count (the Spark master is fixed at session
creation, so 8- and 32-core passes must be separate processes):

    SPARK_GRAFT_CPUS=32 python tools/core_scaling_probe.py \
        --replica-root /tmp/spark_graft_core_probe --r 6 \
        --tables documents,embeddings,lineitem,orders,part,supplier,customer \
        --out /tmp/probe32.json  q1 q2 ...
    SPARK_GRAFT_CPUS=8  python tools/core_scaling_probe.py ... --out /tmp/probe8.json q1 q2 ...

The replica dir is built on first use and REUSED by path (both passes
must see identical bytes; delete the root to rebuild). Timing is
min-of-N ``tools.measure.measure`` wall (build + noop write, as in
bench.py) with a fresh DataFrame build per repeat. Combine the two
JSONs downstream into per-query t_low/t_high ratios; data-bound
queries should approach cpus_high/cpus_low while barrier-bound
iterative queries stay near 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_inreach_spark.queries import all_queries  # noqa: E402
from etl_inreach_spark.session import get_spark  # noqa: E402
from tools.measure import drop_blocks, measure, warm_up  # noqa: E402
from tools.scale_probe import BASE_SF_DIR, make_replica_dir  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replica-root", required=True)
    ap.add_argument("--r", type=int, default=6)
    ap.add_argument("--tables", default="documents,embeddings,lineitem,orders,part,supplier,customer")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--out", required=True)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    qs = all_queries()
    unknown = [n for n in args.queries if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("core-scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    os.makedirs(args.replica_root, exist_ok=True)
    tables = tuple(args.tables.split(","))
    # marker guards against mixing replica dirs built with different params
    marker = os.path.join(args.replica_root, "PARAMS.json")
    params = {"r": args.r, "tables": sorted(tables), "base": BASE_SF_DIR}
    if os.path.exists(marker):
        if json.load(open(marker)) != params:
            print(f"replica root {args.replica_root} was built with different "
                  "params; delete it to rebuild", file=sys.stderr)
            return 2
        sf_dir = os.path.join(args.replica_root, f"x{args.r}")
    else:
        sf_dir = make_replica_dir(spark, BASE_SF_DIR, args.r, args.replica_root, tables)
        with open(marker, "w") as f:
            json.dump(params, f)

    warm_up(spark)
    results: dict[str, float] = {}
    for name in args.queries:
        best = min(
            measure(spark, f"core-probe:{name}", lambda: qs[name](spark, sf_dir))["wall_s"]
            for _ in range(args.repeats)
        )
        drop_blocks(spark)
        results[name] = round(best, 2)
        print(f"{name}: {best:.2f}s @ {cpus} cores", file=sys.stderr)

    payload = {"cpus": cpus, "replication": args.r, "tables": sorted(tables),
               "base": BASE_SF_DIR, "repeats": args.repeats, "queries": results}
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

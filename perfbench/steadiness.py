"""Run the benchmark repeatedly and report how steady each metric is.

    python3 perfbench/steadiness.py --workloads feeds query_mix \
        --seeds 1 2 3 4 5 6 7 8 9 10 --sets 2 --out perfbench/STEADINESS.json

For every set, workload and end-to-end metric it records the values,
their median and quartiles (``statistics.quantiles(values, n=4)``), the
inter-quartile distance as a share of the median, and, across sets, the
ratio of each set's median to the first set's. Runs are sequential: one
Spark session at a time. The sets alternate run by run (seed 1 of every
set, then seed 2, ...), so a slow stretch of the host falls on all sets
alike rather than on one of them.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import quartiles, relative_iqr  # noqa: E402


def bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(cfg: dict, workload: str, seed: int) -> dict:
    cmd = [
        *cfg["command"],
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(cfg["run_seconds"]),
        "--trace", "0",
    ]
    start = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.monotonic() - start
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    return {"seed": seed, "run_wall_s": wall, "host": json.loads(lines[-2]), **result}


def summarize(values: list[float]) -> dict:
    q1, med, q3 = quartiles(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3, "iqr_share": relative_iqr(values)}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", nargs="+", type=int, required=True)
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    cfg = bench_config()
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    report: dict = {"run_seconds": cfg["run_seconds"], "seeds": args.seeds, "sets": []}
    runs: list[dict[str, list[dict]]] = [
        {w: [] for w in args.workloads} for _ in range(args.sets)
    ]
    for seed in args.seeds:
        for s in range(args.sets):
            for w in args.workloads:
                r = run_once(cfg, w, seed)
                runs[s][w].append(r)
                print(
                    f"set {s} {w} seed {seed} run {r['run_wall_s']:.1f} s "
                    + " ".join(f"{n}={r['metrics'][n]['value']:.4g}" for n in bounds),
                    flush=True,
                )
    for s, set_runs in enumerate(runs):
        summary = {
            w: {
                name: summarize([r["metrics"][name]["value"] for r in rs])
                for name in bounds
            }
            for w, rs in set_runs.items()
        }
        report["sets"].append({"summary": summary, "runs": set_runs})
        for w in args.workloads:
            for name, st in summary[w].items():
                print(
                    f"set {s} {w:10s} {name:12s} median {st['median']:.4f} "
                    f"iqr/median {st['iqr_share']:.3f} (bound {bounds[name]})",
                    flush=True,
                )
    first = report["sets"][0]["summary"]
    report["median_ratio_vs_first_set"] = [
        {
            w: {
                n: st["median"] / first[w][n]["median"] if first[w][n]["median"] else None
                for n, st in ws.items()
            }
            for w, ws in s["summary"].items()
        }
        for s in report["sets"]
    ]
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

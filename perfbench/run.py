"""Benchmark entry point: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload feeds --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run renders its inputs from
``--seed``, builds a ``local[nproc]`` session, checks the outputs on an
untimed pass, warms up until two passes in a row agree, then repeats the
workload's pass for ``--seconds`` (at least ``MIN_TIMED_PASSES`` times). With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
of a separately traced pass. The line before it records host facts and
the raw per-pass timings. Exits 1 when an output check fails and 2 when
the program is not in the checkout.

Everything the run writes goes under ``.bench_build/perfbench/`` in the
checkout: inputs, Spark's local and temporary directories (removed at
exit) and the span file of a traced run (kept).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".bench_build", "perfbench")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "shuffle_mb": "MB",
}

WORKLOADS = ("feeds", "query_mix")
# Passes run after the correctness pass and before timing starts: the
# first passes of a fresh session are slower (JIT, codegen cache,
# Python worker start) and count in setup_s instead. Warm-up ends once
# two passes in a row agree within WARMUP_TOLERANCE, after at least
# WARMUP_MIN_PASSES and at most WARMUP_MAX_PASSES.
WARMUP_MIN_PASSES = 2
WARMUP_MAX_PASSES = 3
WARMUP_TOLERANCE = 0.05
MIN_TIMED_PASSES = 5
TRACED_PASSES = 2
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and make the checkout importable by Spark's Python workers.
    Must run before the session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers
    it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def warm_up(wl) -> list[float]:
    """Untimed passes until two in a row agree; returns their wall times."""
    walls: list[float] = []
    while len(walls) < WARMUP_MAX_PASSES:
        start = time.monotonic()
        wl.run_pass()
        walls.append(time.monotonic() - start)
        if len(walls) >= WARMUP_MIN_PASSES and (
            abs(walls[-1] - walls[-2]) <= WARMUP_TOLERANCE * walls[-2]
        ):
            break
    return walls


class Timed:
    """Timed untraced passes of one run and the operations they attempted."""

    def __init__(self, wl):
        self.wl = wl
        self.passes: list[dict] = []
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def one(self) -> dict:
        from perfbench.metrics import tree_cpu_seconds

        wl = self.wl
        wl.status.mark()
        cpu0 = tree_cpu_seconds()
        start = time.monotonic()
        res = wl.run_pass()
        wall = time.monotonic() - start
        cpu = tree_cpu_seconds() - cpu0
        ex = wl.status.since()
        p = {"wall_s": wall, "cpu_s": cpu, "shuffle_mb": ex.shuffle_write_mb}
        self.passes.append(p)
        self.attempted += res.attempted
        self.failed += res.failed
        self.problems += res.problems
        return p

    def for_seconds(self, seconds: float) -> None:
        deadline = time.monotonic() + seconds
        while len(self.passes) < MIN_TIMED_PASSES or time.monotonic() < deadline:
            self.one()


def traced_metrics(wl, tracer, timed: Timed) -> tuple[dict[str, float], list[dict]]:
    """Median per-layer numbers over the traced passes, and per pass how
    much of its wall time the layer spans account for. Each traced pass
    follows an untraced one, and the tracing overhead is the median
    difference within these pairs, so warm-up drift between passes does
    not bias it."""
    from perfbench.metrics import median
    from perfbench.trace import count_catalog_loads, union_length

    layers: list[dict[str, float]] = []
    reconcile: list[dict] = []
    overheads: list[float] = []
    for i in range(TRACED_PASSES):
        untraced_s = timed.one()["wall_s"]
        tracer.trace_id = f"pass-{i}"
        before = dict(tracer.counters)
        with tracer.span("pass") as pass_id, count_catalog_loads(tracer):
            layer = wl.trace_pass(tracer)
        for name in ("catalog.load_s", "catalog.loads", "operators.checkpoints", "operators.collects"):
            layer[name] = tracer.counters.get(name, 0.0) - before.get(name, 0.0)
        layers.append(layer)
        kids = [(s.start, s.end) for s in tracer.spans if s.parent == pass_id]
        reconcile.append({
            "pass_s": tracer.spans[-1].seconds,
            "layer_spans_s": union_length(kids),
            "equivalent_untraced_pass_s": layer["_pass_s"],
            "preceding_untraced_pass_s": untraced_s,
        })
        overheads.append(layer.pop("_pass_s") - untraced_s)
    names = sorted(set().union(*layers))
    out = {n: median([layer.get(n, 0.0) for layer in layers]) for n in names}
    walls = [p["wall_s"] for p in timed.passes]
    out["trace.overhead_s"] = median(overheads)
    out["passes.spread"] = max(walls) / min(walls)
    return out, reconcile


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_inreach_spark")):
        print(f"perfbench: no etl_inreach_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics as m
    from perfbench.layers import PER_LAYER
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS as workloads

    t_process = time.monotonic() - m.process_age_seconds()
    work = os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}-{os.getpid()}")
    prepare_environment(work)
    threads = len(os.sched_getaffinity(0))
    spark = None
    try:
        from etl_inreach_spark.session import get_spark

        t = time.monotonic()
        spark = get_spark("perfbench", cpus=threads)
        session_s = time.monotonic() - t
        spark.sparkContext.setLogLevel("ERROR")

        wl = workloads[args.workload](spark, work, args.seed)
        wl.setup()
        check = wl.check()
        warmup = warm_up(wl)
        setup_s = time.monotonic() - t_process

        timed = Timed(wl)
        tracer = Tracer() if args.trace else None
        if tracer is not None:
            metrics, reconcile = traced_metrics(wl, tracer, timed)
            metrics["session.start_s"] = session_s
            storage_mb, heap_mb = m.retained_after_gc(spark)
            metrics["operators.retained_mb"] = storage_mb
            os.makedirs(os.path.join(OUT_DIR, "traces"), exist_ok=True)
            tracer.write(
                os.path.join(OUT_DIR, "traces", f"{args.workload}-s{args.seed}.json"),
                reconcile=reconcile,
            )
            units = {name: unit for name, unit, _better, _moves in PER_LAYER}
            # a layer the workload bypasses did no work
            metrics = {name: metrics.get(name, 0.0) for name in units}
        else:
            timed.for_seconds(args.seconds)
            untraced = timed.passes
            storage_mb, heap_mb = m.retained_after_gc(spark)
            metrics = {
                "setup_s": setup_s,
                "pass_s": m.median([p["wall_s"] for p in untraced]),
                "cpu_s": m.median([p["cpu_s"] for p in untraced]),
                # a mean: lazily checkpointed inputs make the bytes of one
                # pass depend on which job computes them first
                "shuffle_mb": sum(p["shuffle_mb"] for p in untraced) / len(untraced),
            }
            units = END_TO_END
        from pyspark import __version__ as spark_version
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = check.attempted + timed.attempted
    failed = check.failed + timed.failed
    problems = check.problems + timed.problems
    print(json.dumps({
        "host": {
            "nproc": os.cpu_count(),
            "threads": threads,
            "master": f"local[{threads}]",
            "spark": spark_version,
            "python": platform.python_version(),
            "inputs": wl.inputs,
            "seed": args.seed,
            "session_s": session_s,
        },
        "warmup_s": warmup,
        "passes": timed.passes,
        "storage_mb_after_last_pass": storage_mb,
        "heap_mb_after_last_pass": heap_mb,
        "error_rate": failed / max(attempted, 1),
        "problems": problems[:20],
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

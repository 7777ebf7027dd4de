"""The one place that times a registry query.

``measure(spark, label, build)`` splits a query's cost into layers and
reads its execution counters from Spark's in-process status store
(``perfbench.metrics.StatusStore``: UI off, no network):

  build_s  ``build()``, including the eager jobs (localCheckpoint,
           bounded collects) it runs; counted as ``build_jobs``, and
           its py4j gateway commands as ``py4j_calls``
  plan_s   the built DataFrame's ``executedPlan`` (Catalyst)
  exec_s   a ``noop``-format write: the full distributed plan without
           a driver collect. Spark plans again per action, so
           ``wall_s = build_s + exec_s`` leaves the plan step out.

CLI: one unmeasured warm pass, then ``rounds`` round-major rounds over
the named queries (a noisy host window inflates one round of every
query, not every repeat of one), then one JSON line with every run's
record and each query's min wall. Run solo.

    python tools/measure.py sf_dir rounds name ...
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_inreach_spark.queries import all_queries  # noqa: E402
from etl_inreach_spark.session import get_spark  # noqa: E402
from perfbench.metrics import StatusStore  # noqa: E402


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark) -> None:
    """Start the JVM's Arrow Python workers once, so the first
    pandas-UDF query does not pay worker spin-up inside its timing."""
    import pandas  # noqa: F401

    cpus = spark.sparkContext.defaultParallelism
    noop_write(
        spark.range(cpus * 2).repartition(cpus).mapInPandas(lambda it: it, "id long")
    )


def drop_blocks(spark) -> None:
    """Unpersist every cached/checkpointed RDD, then one full JVM GC.
    Call between queries, untimed.

    localCheckpoint(eager=True) blocks unpin only when Python's GC and
    Spark's ContextCleaner get to them, and checkpoint-heavy iterative
    queries leave heap debt; both show up as eviction/GC stalls in
    unrelated later queries. Discarded plans are never re-read."""
    sc = spark.sparkContext
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    sc._jvm.System.gc()


@contextmanager
def _job_group(sc, group: str, description: str):
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        # PySpark has no clearJobGroup; reset the local properties
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# py4j's memory-detach command: finalizers send one whenever Python frees
# a JavaObject, so counting them makes the total depend on when the
# garbage collector runs.
_DETACH = "m\nd\n"


@contextmanager
def py4j_calls(spark):
    """Count the py4j gateway commands (JVM round trips) sent while the
    block runs, leaving out memory-detach commands. Yields a namespace
    whose ``n`` holds the count::

        with py4j_calls(spark) as calls:
            df = build()
        calls.n
    """
    client = spark.sparkContext._gateway._gateway_client
    calls = SimpleNamespace(n=0)
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith(_DETACH):
            calls.n += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        client.send_command = send


def _max_task_s(spark, groups: list[str]) -> float:
    """Longest successful task of the groups' jobs (the status store's
    per-stage task summary at quantile 1.0)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jstore = sc._jsc.sc().statusStore()
    top = sc._gateway.new_array(sc._jvm.double, 1)
    top[0] = 1.0
    longest = 0.0
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            for sid in info.stageIds if info is not None else ():
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped (shuffle reuse) or never ran
                summary = jstore.taskSummary(sid, st.currentAttemptId, top)
                if summary.isDefined():
                    longest = max(longest, summary.get().duration().apply(0) / 1000.0)
    return longest


def measure(spark, label: str, build) -> dict:
    """Build, plan and noop-write one DataFrame; returns the timings
    (seconds) and the execution counters of both job groups. ``label``
    names the groups; a per-call suffix keeps them unique."""
    sc = spark.sparkContext
    store = StatusStore(spark)
    store.mark()
    run = uuid.uuid4().hex[:8]
    groups = [f"{label}#{run}:build", f"{label}#{run}:exec"]
    with _job_group(sc, groups[0], label), py4j_calls(spark) as calls:
        t0 = time.monotonic()
        df = build()
        t1 = time.monotonic()
    with _job_group(sc, groups[1], label):
        df._jdf.queryExecution().executedPlan()
        t2 = time.monotonic()
        noop_write(df)
        t3 = time.monotonic()
    b, e = (store.since(g, tasks=True) for g in groups)
    rec = {
        "groups": groups,
        "build_s": t1 - t0,
        "plan_s": t2 - t1,
        "exec_s": t3 - t2,
        "wall_s": t1 - t0 + t3 - t2,
        "build_jobs": b.jobs,
        "py4j_calls": calls.n,
        "straggler_ratio": max(b.straggler_ratio, e.straggler_ratio),
        "max_task_s": _max_task_s(spark, groups),
    }
    for k in ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "gc_s"):
        rec[k] = getattr(b, k) + getattr(e, k)
    return {k: round(v, 3) if isinstance(v, float) else v for k, v in rec.items()}


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) < 3 or not argv[1].isdigit():
        print("usage: measure.py sf_dir rounds name ...", file=sys.stderr)
        return 2
    sf_dir, rounds, names = argv[0], int(argv[1]), argv[2:]
    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)
    # one unmeasured pass: codegen JIT, shuffle service spin-up
    for name in names:
        noop_write(qs[name](spark, sf_dir))
        drop_blocks(spark)
    runs: dict[str, list[dict]] = {n: [] for n in names}
    for r in range(rounds):
        for name in names:
            rec = measure(spark, f"measure:{name}:{r}", lambda: qs[name](spark, sf_dir))
            runs[name].append(rec)
            drop_blocks(spark)
    out = {n: {"min_wall_s": min(r["wall_s"] for r in recs), "runs": recs}
           for n, recs in runs.items()}
    print(json.dumps({"sf_dir": sf_dir, "rounds": rounds, "queries": out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

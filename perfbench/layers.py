"""Per-layer metrics of the traced run, each with the end-to-end metric
and workload it should move. A perf change cites this map: it names the
layer metric it moves and the end-to-end metric it therefore claims.

Tuples are (name, unit, better, moves).
"""

from __future__ import annotations

from perfbench.workloads import QUERY_MIX

ALL = "feeds and query_mix"
FEEDS = "on feeds; no change on query_mix"
QUERIES = "on query_mix; no change on feeds"

PER_LAYER: list[tuple[str, str, str, str]] = [
    ("session.start_s", "s", "lower", f"setup_s on {ALL}"),
    ("catalog.load_s", "s", "lower", f"pass_s {QUERIES}"),
    ("catalog.loads", "count", "lower", f"pass_s {QUERIES}"),
    ("sources.fetch_s", "s", "lower", f"pass_s and cpu_s {FEEDS}"),
    ("sources.fetch_cpu_s", "s", "lower", f"pass_s and cpu_s {FEEDS}"),
    ("sources.tasks", "count", "lower", f"pass_s and cpu_s {FEEDS}"),
    ("sources.parse_s", "s", "lower", f"pass_s and cpu_s {FEEDS}"),
    ("sources.placemarks", "count", "higher", "none: input size, fixed by the workload"),
    ("plans.project_s", "s", "lower", f"pass_s and cpu_s {FEEDS}"),
    # on feeds the build includes the Python data source's planning calls
    ("plans.build_s", "s", "lower", f"pass_s {FEEDS}"),
    ("catalyst.plan_s", "s", "lower", f"pass_s on {ALL} (one-shot queries)"),
    ("plans.dedup_s", "s", "lower", f"shuffle_mb and pass_s {FEEDS}"),
    ("exec.shuffle_read_mb", "MB", "lower", f"shuffle_mb and pass_s on {ALL}"),
    ("sinks.render_s", "s", "lower", f"pass_s {FEEDS}"),
    ("sinks.post_s", "s", "lower", f"pass_s {FEEDS}"),
    ("sinks.batches", "count", "lower", f"pass_s {FEEDS}"),
    ("sinks.mb", "MB", "lower", f"pass_s {FEEDS}"),
    ("queries.build_s", "s", "lower", f"pass_s {QUERIES}"),
    ("queries.build_jobs", "count", "lower", f"pass_s {QUERIES}"),
    ("operators.eager_s", "s", "lower", f"pass_s {QUERIES}"),
    ("operators.checkpoints", "count", "lower", f"pass_s {QUERIES}; storage in operators.retained_mb"),
    ("operators.collects", "count", "lower", f"pass_s {QUERIES}"),
    # no end-to-end metric: storage read after one collection depends on
    # when ContextCleaner runs (see README)
    ("operators.retained_mb", "MB", "lower", "diagnostic only: storage held after the traced passes"),
    ("exec.s", "s", "lower", f"pass_s on {ALL}"),
    ("exec.jobs", "count", "lower", f"pass_s on {ALL}"),
    ("exec.stages", "count", "lower", f"pass_s on {ALL}"),
    ("exec.tasks", "count", "lower", f"pass_s and cpu_s on {ALL}"),
    ("exec.task_cpu_s", "s", "lower", f"cpu_s on {ALL}"),
    ("exec.gc_s", "s", "lower", f"pass_s and cpu_s on {ALL}"),
    ("exec.spill_mb", "MB", "lower", f"pass_s on {ALL}"),
    ("exec.straggler_ratio", "ratio", "lower", f"pass_s on {ALL}"),
    *[
        row
        for q in QUERY_MIX
        for row in (
            (f"q.{q}.s", "s", "lower", f"pass_s {QUERIES}"),
            (f"q.{q}.jobs", "count", "lower", f"pass_s {QUERIES}"),
        )
    ],
    ("passes.spread", "ratio", "lower", "diagnostic only"),
    ("trace.overhead_s", "s", "lower", "diagnostic only"),
]

"""Measurement helpers: order statistics, process-tree CPU from /proc,
and per-pass execution counters from Spark's in-process status store.

The status store is the one the Spark UI renders from; it is populated
by the listener bus whether or not the UI server runs, so every counter
here works with ``spark.ui.enabled=false`` and needs no network.
"""

from __future__ import annotations

import os
import statistics
from collections.abc import Sequence
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) exactly as ``statistics.quantiles(values, n=4)``
    gives them (its default exclusive method)."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def relative_iqr(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


# --- CPU seconds of the whole process tree ------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants: the
    driver's Python, the JVM it launched and the JVM's Python workers."""
    todo = [root or os.getpid()]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_cpu_seconds(root: int | None = None) -> float:
    """User + system CPU of the process tree, including reaped children
    (cutime/cstime), so a worker that exits between two readings still
    counts in full in the later one."""
    ticks = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def process_age_seconds() -> float:
    """Seconds since this process started, from /proc (tick resolution)."""
    f = _stat_fields(os.getpid())
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(f[19]) / _CLK_TCK


# --- Spark status store -----------------------------------------------


@dataclass
class ExecStats:
    """Counters summed over the stages of a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    straggler_ratio: float = 1.0
    job_spans: list[tuple[float, float]] = field(default_factory=list)


def _scala_list(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class StatusStore:
    """Reads jobs and stages of a live SparkContext; each ``since`` call
    returns what ran after the previous watermark."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._last_job = -1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the jobs that just finished."""
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self.drain()
        jobs = _scala_list(self._store.jobsList(None))
        self._last_job = max([j.jobId() for j in jobs], default=self._last_job)

    def since(self, job_group: str | None = None, tasks: bool = False) -> ExecStats:
        """Counters of jobs that started after the last ``mark``,
        optionally only those of one job group. ``tasks`` also reads
        per-task durations for the straggler ratio (slower)."""
        self.drain()
        out = ExecStats()
        stage_ids: set[int] = set()
        for j in _scala_list(self._store.jobsList(None)):
            if j.jobId() <= self._last_job:
                continue
            if job_group is not None and _opt(j.jobGroup()) != job_group:
                continue
            out.jobs += 1
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is not None and done is not None:
                out.job_spans.append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
            stage_ids.update(int(s) for s in _scala_list(j.stageIds()))
        for sid in sorted(stage_ids):
            for st in _scala_list(self._store.stageData(sid, False, None, False, None)):
                if str(st.status()) == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks() + st.numFailedTasks()
                out.shuffle_write_mb += st.shuffleWriteBytes() / MB
                out.shuffle_read_mb += (
                    st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
                ) / MB
                out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                out.task_cpu_s += st.executorCpuTime() / 1e9
                out.gc_s += st.jvmGcTime() / 1000.0
                if tasks and st.numCompleteTasks() >= 4:
                    out.straggler_ratio = max(
                        out.straggler_ratio, self._straggler(sid, st.attemptId())
                    )
        return out

    def _straggler(self, stage_id: int, attempt: int) -> float:
        durs = [
            float(_opt(t.duration(), 0))
            for t in _scala_list(self._store.taskList(stage_id, attempt, 100000))
        ]
        mid = median(durs) if durs else 0.0
        return max(durs) / mid if mid > 0 else 1.0


def storage_memory_mb(spark) -> float:
    """Block-manager storage memory in use (cached and checkpointed
    blocks plus broadcast pieces)."""
    return spark.sparkContext._jsc.sc().env().memoryManager().storageMemoryUsed() / MB


def retained_after_gc(spark) -> tuple[float, float]:
    """(block-manager storage MB, JVM heap MB in use) right after one
    Python and one JVM collection. Spark's ContextCleaner drops the
    blocks of collected owners asynchronously, so blocks of the last pass
    that nothing references any more may still count."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return storage_memory_mb(spark), (rt.totalMemory() - rt.freeMemory()) / MB

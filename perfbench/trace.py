"""Spans and counters for the traced run.

Spans (name, start, end, parent, trace id) are kept in memory and
written once, when the run ends. Counters are plain name -> number
sums. Both are recorded by the benchmark around its calls into the
program; nothing inside the program is instrumented.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    trace_id: str
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.trace_id = "setup"

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.monotonic()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, self.trace_id, name, start, time.monotonic(), parent))

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[name] += value

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "counters": dict(self.counters),
                    **extra,
                },
                fh,
            )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@contextmanager
def count_materializations(df_class: type, tracer: Tracer):
    """Count ``localCheckpoint``/``checkpoint``/``collect`` calls on
    ``df_class`` (the session's concrete DataFrame class) for the
    duration of the block; the originals are restored on exit."""
    names = {
        "localCheckpoint": "operators.checkpoints",
        "checkpoint": "operators.checkpoints",
        "collect": "operators.collects",
    }
    originals = {m: df_class.__dict__.get(m) for m in names}

    def wrap(method: str, fn):
        def counted(self, *args, **kwargs):
            tracer.count(names[method])
            return fn(self, *args, **kwargs)

        return counted

    for m in names:
        setattr(df_class, m, wrap(m, getattr(df_class, m)))
    try:
        yield
    finally:
        for m, fn in originals.items():
            if fn is None:
                delattr(df_class, m)
            else:
                setattr(df_class, m, fn)


@contextmanager
def count_catalog_loads(tracer: Tracer):
    """Time and count ``catalog.load_table`` calls for the duration of
    the block. Query modules bind the function by name at import, so
    every module holding the original is patched, then restored."""
    import sys

    from etl_inreach_spark import catalog

    original = catalog.load_table

    def timed(*args, **kwargs):
        start = time.monotonic()
        try:
            return original(*args, **kwargs)
        finally:
            tracer.count("catalog.loads")
            tracer.count("catalog.load_s", time.monotonic() - start)

    patched = [
        m
        for name, m in list(sys.modules.items())
        if name.startswith("etl_inreach_spark") and getattr(m, "load_table", None) is original
    ]
    for m in patched:
        m.load_table = timed
    try:
        yield
    finally:
        for m in patched:
            m.load_table = original

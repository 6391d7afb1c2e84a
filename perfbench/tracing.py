"""Spans around calls into the package, recorded from benchmark code.

A span times a call and tags the Spark jobs it launches with a job group
of its own, set as a local property of the calling thread, so a span
opened inside a ``foreachBatch`` body counts the stream thread's jobs.
The previous group is restored when the span ends, so nested spans work
and Structured Streaming keeps its own group.  A span's job count
includes the jobs of the spans nested in it.  Job ids are read back from
``statusTracker()`` only at the end of the run, once the listener bus is
idle, so counts do not depend on event delivery lag.

With tracing off every span is a no-op, so the end-to-end numbers carry
no tracing cost.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.pass_no = -1  # spans are recorded only while a timed pass runs
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._records: list[tuple[str, int, float, list[str]]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self.pass_no < 0:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        group = f"perfbench-{next(self._ids)}"
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, group)
        groups = [group]
        stack.append(groups)
        pass_no = self.pass_no
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            if stack:
                stack[-1].extend(groups)
            with self._lock:
                self._records.append((name, pass_no, dt, groups))

    def summary(self) -> dict[str, dict]:
        """Per span name: ``seconds`` and ``jobs`` summed per timed pass
        (one entry per pass, in pass order) and ``calls``, the duration of
        every span."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        by_name: dict[str, dict] = defaultdict(
            lambda: {"seconds": defaultdict(float), "jobs": defaultdict(int), "calls": []}
        )
        for name, pass_no, dt, groups in self._records:
            rec = by_name[name]
            rec["seconds"][pass_no] += dt
            rec["jobs"][pass_no] += sum(len(tracker.getJobIdsForGroup(g)) for g in groups)
            rec["calls"].append(dt)
        return {
            name: {
                "seconds": [rec["seconds"][p] for p in sorted(rec["seconds"])],
                "jobs": [rec["jobs"][p] for p in sorted(rec["jobs"])],
                "calls": rec["calls"],
            }
            for name, rec in by_name.items()
        }


def per_pass(summary: dict, name: str, field: str = "seconds") -> float:
    """Median over timed passes of a span's per-pass total; 0 if the
    workload never entered the span."""
    vals = summary.get(name, {}).get(field)
    return statistics.median(vals) if vals else 0

"""In-memory spans around the benchmark's calls into each layer.

A span records (name, start, end, parent span, op id).  Spans stay in
memory while the benchmark runs and are written out once at exit.  A
layer's self time is its span's duration minus the time its direct
child spans cover (calls are sequential, so children never overlap).

With tracing off, :meth:`Tracer.span` returns one shared no-op context
manager, so the untraced run pays a method call per layer boundary and
nothing else.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()
PROBE_SPANS = 20_000  # spans per timing of the per-span cost


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        # [name, start, end, parent index or -1, op id or -1]
        self.spans: list[list] = []
        self._local = threading.local()  # per-thread stack of open spans
        self._lock = threading.Lock()

    def span(self, name: str, op: int = -1):
        return self._span(name, op) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str, op: int):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = [name, time.perf_counter(), 0.0, stack[-1] if stack else -1, op]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            stack.pop()

    def self_times(self, spans: list[list]) -> dict[str, float]:
        """Total self time per span name over ``spans`` (a subset of
        :attr:`spans` that holds each span's children with it)."""
        child: dict[int, float] = defaultdict(float)
        for s in spans:
            if s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        pos = {id(s): i for i, s in enumerate(self.spans)}
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s[0]] += (s[2] - s[1]) - child[pos[id(s)]]
        return dict(out)

    @staticmethod
    def per_span_cost() -> float:
        """Seconds one enabled span adds, measured on a scratch tracer."""
        probe = Tracer(True)
        costs = []
        for _ in range(5):
            t0 = time.perf_counter()
            for _ in range(PROBE_SPANS):
                with probe.span("x"):
                    pass
            costs.append((time.perf_counter() - t0) / PROBE_SPANS)
            probe.spans.clear()
        return statistics.median(costs)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent, op in self.spans:
                fh.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end,
                         "parent": parent, "op": op}
                    )
                    + "\n"
                )


class JobCounter:
    """Spark jobs, stages and tasks launched under a job group.

    Each traced layer call runs under its own group id, cleared when the
    call returns so later jobs on the thread count under no group;
    counts are read back from ``statusTracker()`` after the timed
    window, when the listener bus has caught up."""

    def __init__(self, sc):
        self.sc = sc
        self.groups: dict[str, str] = {}  # group id -> counter key
        self.tag_s = 0.0  # seconds spent setting and clearing groups

    @contextlib.contextmanager
    def group(self, group: str, key: str):
        t0 = time.perf_counter()
        self.groups[group] = key
        self.sc.setJobGroup(group, key)
        self.tag_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.tag_s += time.perf_counter() - t0

    def totals(self) -> dict[str, dict[str, list[int]]]:
        """{key: {"jobs": [...], "stages": [...], "tasks": [...]}}, one
        entry per tagged group."""
        st = self.sc.statusTracker()
        out: dict[str, dict[str, list[int]]] = defaultdict(
            lambda: {"jobs": [], "stages": [], "tasks": []}
        )
        for group, key in self.groups.items():
            jobs = st.getJobIdsForGroup(group)
            stages = tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            rec = out[key]
            rec["jobs"].append(len(jobs))
            rec["stages"].append(stages)
            rec["tasks"].append(tasks)
        return dict(out)

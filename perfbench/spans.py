"""Spans around engine layer calls, recorded from outside the engine.

``Tracer.wrap(module, name, layer)`` replaces a public module attribute
with a wrapper that records one span per call — name, start, end, parent
span and request id — and ``Tracer.unwrap_all`` puts the originals back.
Callers inside the engine that look the function up through the module
(``bm25.score(...)``, or a name imported into another module and wrapped
there as well) are traced too, so self time per layer is real time spent
inside the call, not an estimate.  Spark tasks run in separate Python
workers that import the engine afresh; their calls are not traced.

Spans stay in memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    parent: int
    request: int
    layer: str
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrapped: list[tuple[object, str, object]] = []
        self.request = 0      # id given to spans opened now; -1 = none
        self.n_requests = 0

    def next_request(self, counted: bool) -> None:
        """Start a new request (``counted``) or leave requests (spans
        opened until the next call belong to none)."""
        if counted:
            self.n_requests += 1
            self.request = self.n_requests
        else:
            self.request = -1

    # --- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, layer: str) -> Span:
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), stack[-1] if stack else -1,
                     self.request, layer, time.perf_counter())
            self.spans.append(s)
        stack.append(s.span_id)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack().pop()

    # --- wrapping ------------------------------------------------------
    def wrap(self, module, name: str, layer: str) -> None:
        orig = getattr(module, name)
        tracer = self

        def traced(*args, **kwargs):
            s = tracer._open(layer)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._close(s)

        traced.__wrapped__ = orig
        setattr(module, name, traced)
        self._wrapped.append((module, name, orig))

    def unwrap_all(self) -> None:
        for module, name, orig in reversed(self._wrapped):
            setattr(module, name, orig)
        self._wrapped.clear()

    # --- analysis ------------------------------------------------------
    def self_times(self, min_request: int | None = None
                   ) -> dict[str, dict]:
        """Per layer: call count, total and self seconds, over the spans
        of requests numbered ``min_request`` or above (all spans when
        None).  Self time is a span's duration minus the time its direct
        children cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0 and s.end:
                child_time[s.parent] += s.end - s.start
        out: dict[str, dict] = {}
        for s in self.spans:
            if not s.end or (min_request is not None
                             and s.request < min_request):
                continue
            d = out.setdefault(s.layer, {"calls": 0, "total_s": 0.0,
                                         "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += s.end - s.start
            d["self_s"] += s.end - s.start - child_time[s.span_id]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.span_id, "parent": s.parent,
                                    "request": s.request, "layer": s.layer,
                                    "start": s.start, "end": s.end}) + "\n")


class JobCounter:
    """Spark jobs and tasks per call, read from ``SparkStatusTracker``
    under a job group set around the call."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.n = 0

    def run(self, fn):
        """``fn()`` under a fresh job group → (result, jobs, tasks).
        Jobs the call submits from its own helper threads carry no group;
        those that appear during the call are counted too."""
        self.n += 1
        group = f"perfbench-{self.n}"
        tracker = self.sc.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        jobs = set(tracker.getJobIdsForGroup(group)) | (
            set(tracker.getJobIdsForGroup(None)) - before)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        return result, len(jobs), tasks

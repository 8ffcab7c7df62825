"""In-memory spans around the benchmark's calls into the engine.

A span records name, start, end, parent span and op id.  When tracing is
on, each span also tags its Spark jobs with ``setJobGroup`` and reads job
and task counts from ``statusTracker()`` when it closes.  Jobs that engine
threads submit (``build_index`` builds shards from a thread pool, whose
threads do not inherit the job group) are picked up as the ungrouped jobs
that appeared during the span; the benchmark runs one op at a time, so
every such job belongs to the open span.

With tracing off a span only times the call, so end-to-end numbers come
from the same code path minus the instrumentation.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "counts")

    def __init__(self, sid: int, name: str, parent: int | None, op: int | None):
        self.id = sid
        self.name = name
        self.parent = parent
        self.op = op
        self.start = time.perf_counter()
        self.end = self.start
        self.counts: dict[str, float] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._n_ops = 0

    def bind(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def span(self, name: str, op: bool = False):
        """Time a call.  ``op=True`` starts a new op id (a top-level
        request)."""
        if op:
            self._n_ops += 1
            self._op = self._n_ops
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self._op)
        instrument = self.enabled and self.sc is not None
        before = self._ungrouped() if instrument else None
        if instrument:
            self.sc.setJobGroup(f"span{s.id}", name, interruptOnCancel=False)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if instrument:
                jobs = set(self.sc.statusTracker().getJobIdsForGroup(f"span{s.id}"))
                jobs |= self._ungrouped() - before
                s.counts["spark_jobs"] = len(jobs)
                s.counts["spark_tasks"] = self._tasks(jobs)
                outer = self._stack[-1] if self._stack else None
                if outer is not None:
                    self.sc.setJobGroup(f"span{outer.id}", outer.name, interruptOnCancel=False)
                else:
                    self.sc._jsc.clearJobGroup()
            if self.enabled:
                self.spans.append(s)
            if op:
                self._op = None

    def _ungrouped(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _tasks(self, jobs: set[int]) -> int:
        st = self.sc.statusTracker()
        n = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    n += stage.numCompletedTasks
        return n

    # -- summaries ----------------------------------------------------------
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.seconds
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.seconds - child.get(s.id, 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        doc = {
            **extra,
            "self_s": self.self_times(),
            "spans": [
                {
                    "id": s.id,
                    "name": s.name,
                    "parent": s.parent,
                    "op": s.op,
                    "start_s": s.start - t0,
                    "end_s": s.end - t0,
                    **s.counts,
                }
                for s in self.spans
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)

"""Spans recorded from the benchmark's side of each layer call.

A span has a name, a start, an end and a parent; a cycle (or any root
span) has no parent.  With a SparkContext attached, each span also
tags the jobs it starts with its own job group (``setJobGroup``) and
counts them at exit through ``statusTracker().getJobIdsForGroup``, so
a span's job count excludes its children's.  Spans stay in memory;
``dump`` writes them out once, at the end.

``NullTracer`` has the same interface and records nothing: the
end-to-end runs use it, so their timings carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import time


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "jobs")

    def __init__(self, sid: int, name: str, parent: int | None, start: float):
        self.sid, self.name, self.parent = sid, name, parent
        self.start, self.end, self.jobs = start, None, 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        #: seconds spent in the tracer's own bookkeeping (job-group
        #: calls into the JVM), i.e. the cost tracing adds
        self.self_s = 0.0

    def _group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        t = time.monotonic()
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{id(self)}-{span.sid}", span.name)
        self.self_s += time.monotonic() - t

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent.sid if parent else None,
                    time.monotonic())
        self.spans.append(span)
        self._stack.append(span)
        self._group(span)
        try:
            yield span
        finally:
            span.end = time.monotonic()
            if self.sc is not None:
                t = time.monotonic()
                span.jobs = len(self.sc.statusTracker().getJobIdsForGroup(
                    f"perfbench-{id(self)}-{span.sid}"))
                self.self_s += time.monotonic() - t
            self._stack.pop()
            self._group(parent)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span.sid]
        while todo:
            sid = todo.pop()
            kids = [s for s in self.spans if s.parent == sid]
            out.extend(kids)
            todo.extend(k.sid for k in kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.sid, "name": s.name, "parent": s.parent,
                                    "start": s.start, "end": s.end,
                                    "jobs": s.jobs}) + "\n")


class NullTracer:
    spans: list = []
    self_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

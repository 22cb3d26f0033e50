"""Spans recorded around calls into the program's layers.

A span is (id, name, start, end, parent, op, attrs); spans of one measured
op share its ``op`` id. Spans stay in memory and are written out once, at
the end of the run. Entering a span that names a ``group`` also tags the
Spark jobs started inside it with that job group, so the event log can be
folded per layer call. A disabled tracer records nothing and sets no group.

The tracer times its own work (span bookkeeping and the job-group calls
into the JVM) in :attr:`Tracer.overhead_s`; that is the tracing overhead a
traced op pays on top of an untraced one.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class _Open:
    id: int
    op: str | None
    group: str | None


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[_Open] = []
        self.overhead_s = 0.0

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group:
            self.sc.setJobGroup(group, group)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, group: str | None = None, op: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        if group is None and parent is not None:
            group = parent.group
        self._stack.append(_Open(len(self.spans) + len(self._stack), op, group))
        self._set_group(group)
        start = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            end = time.time()
            sid = self._stack.pop().id
            self.spans.append(Span(sid, name, start, end, parent and parent.id, op, attrs))
            self._set_group(parent.group if parent else None)
            self.overhead_s += time.perf_counter() - t1

    def current_op(self) -> str | None:
        return self._stack[-1].op if self._stack else None

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in sorted(self.spans, key=lambda s: s.start)], f)

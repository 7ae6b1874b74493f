"""In-memory spans for the traced run.

A span records its name, start, end, parent and the operation (trace id)
it belongs to. Spans stay in memory until the run ends; ``self_times``
subtracts from each span the part of its interval covered by its
children.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: int


class Tracer:
    """Span recorder. Disabled tracers record nothing and cost one
    attribute test per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.trace_id = 0
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0,
                                   stack[-1] if stack else None, self.trace_id))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the union of its
        children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            covered = 0.0
            cur_start = cur_end = None
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, s.start), min(b, s.end)
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.name].append(max(0.0, (s.end - s.start) - covered))
        return out

    def durations(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s.name].append(s.end - s.start)
        return out

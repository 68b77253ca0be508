"""In-memory spans around the benchmark's calls into each layer.

A span is (id, name, start, end, parent, run id); times are wall-clock
seconds so they line up with Spark's own progress timestamps. Spans stay
in memory and are written once, when the run ends. A disabled tracer
records nothing, so untraced runs pay only a branch per call."""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from typing import Iterator

from stats import self_times


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # Wall time spent in the tracer's own bookkeeping.
        self.overhead_s = 0.0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a finished span (used for spans rebuilt from Spark's
        progress reports) and return its id."""
        t0 = time.perf_counter()
        with self._lock:
            span_id = next(self._ids)
            self.spans.append(
                {"id": span_id, "name": name, "start": start, "end": end,
                 "parent": parent, "run": self.run_id}
            )
        self.overhead_s += time.perf_counter() - t0
        return span_id

    @contextmanager
    def span(self, name: str) -> Iterator[int | None]:
        """Time the enclosed block as a child of the innermost open span
        on this thread."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            span_id = next(self._ids)
        stack.append(span_id)
        start = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield span_id
        finally:
            t1 = time.perf_counter()
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": span_id, "name": name, "start": start, "end": end,
                     "parent": parent, "run": self.run_id}
                )
            self.overhead_s += time.perf_counter() - t1

    def self_ms_by_name(self) -> dict[str, float]:
        """Total self time per span name, in milliseconds."""
        own = self_times(self.spans)
        totals: dict[str, float] = {}
        for s in self.spans:
            totals[s["name"]] = totals.get(s["name"], 0.0) + own[s["id"]] * 1000.0
        return totals

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_ms": self.self_ms_by_name(), **extra}, f, indent=1)

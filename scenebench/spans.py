"""In-memory spans for the traced run.

A span records its name, start, end, parent span and the batch (or
query) it belongs to. Nothing is written until the run ends. A span's
self time is its duration minus the time its child spans cover; spans
here are strictly nested and sequential, so that is the sum of the
children's durations.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []      # [name, start, end, parent, batch]
        self.counts: list[tuple] = []    # (batch, name, value)
        self.batch = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None,
                           self._stack[-1] if self._stack else None,
                           self.batch])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.append((self.batch, name, value))

    def self_times(self) -> dict:
        """{batch: {span name: summed self seconds}}."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict = defaultdict(lambda: defaultdict(float))
        for i, (name, t0, t1, _, batch) in enumerate(self.spans):
            out[batch][name] += (t1 - t0) - child[i]
        return out

    def names_in(self, batches: set) -> set:
        return {s[0] for s in self.spans if s[4] in batches}

    def median_self(self, name: str, batches: list) -> float:
        st = self.self_times()
        return statistics.median(st[b].get(name, 0.0) for b in batches)

    def median_count(self, name: str, batches: list) -> float:
        per = defaultdict(float)
        for b, n, v in self.counts:
            if n == name and b in batches:
                per[b] += v
        return statistics.median(per.get(b, 0.0) for b in batches)

"""In-memory spans, written out when the run ends.

A span has a name, start and end (seconds since the run began), the id
of the span that caused it and the id of the op it belongs to.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, t0: float):
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # time spent in tracing work that an untraced op does not do
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, op: int):
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            self._stack.pop()
            rec["end"] = t - self.t0
            self.overhead_s += time.perf_counter() - t

    @contextmanager
    def extra(self):
        """Time work done only because the run is traced."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

"""In-memory spans and counters for traced runs.

Spans are recorded around the benchmark's own calls into each layer's
public functions and, through ``lanes.Probes``, around the engine's
own calls into them; nothing in the engine's files is edited. Everything stays
in memory until ``write`` at the end of the run, so the trace costs
no I/O while the workload runs. An untraced run uses ``NullTracer``,
whose methods do nothing.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[tuple] = []   # (id, parent, name, t0, t1)
        self.counts: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}  # derived durations, s
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[sid] = (sid, parent, name, t0, t1)

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def sample(self, name: str, seconds: float) -> None:
        self.samples.setdefault(name, []).append(seconds)

    def durations(self, name: str) -> list[float]:
        """Seconds of every finished span called ``name``."""
        return [s[4] - s[3] for s in self.spans
                if s is not None and s[2] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                **extra,
                "spans": [
                    {"id": s[0], "parent": s[1], "name": s[2],
                     "start": s[3], "end": s[4]}
                    for s in self.spans if s is not None
                ],
                "counts": self.counts,
                "samples": self.samples,
            }, f)


class NullTracer:
    enabled = False
    spans: tuple = ()

    @contextmanager
    def span(self, name: str):
        yield

    def count(self, name: str, n: float = 1) -> None:
        pass

    def sample(self, name: str, seconds: float) -> None:
        pass

    def write(self, path: str, extra: dict) -> None:
        pass

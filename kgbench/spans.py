"""In-memory spans and counts recorded around the benchmark's calls into
each layer of the program; written out once when the run ends.

A span is (name, start, end, parent, run id). A layer's self time is its
span's duration minus the part of that interval its child spans cover.
With tracing off every method is a no-op, so the untraced run pays only
a context-manager entry per call.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        """Record a span around the block; yields its record (None when
        tracing is off), whose "end" is set when the block exits."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": stack[-1] if stack else None, "run": self.run_id}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts.setdefault(name, []).append(value)

    def self_times(self) -> dict[str, list[float]]:
        """span name -> self time (s) of each of its spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
        return out

    def median_self(self, name: str) -> float:
        v = self.self_times().get(name)
        return statistics.median(v) if v else 0.0

    def median_count(self, name: str) -> float:
        v = self.counts.get(name)
        return statistics.median(v) if v else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "counts": self.counts}, f)

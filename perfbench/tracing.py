"""Spans recorded by the benchmark around its calls into the engine.

A span has a name, a start, an end (``time.perf_counter`` seconds), the
index of its parent span and a query id.  Spans stay in memory and are
written out once, at exit.  With tracing off, :meth:`Tracer.span` records
nothing."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, qid: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "qid": qid,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span minus the time its
        direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["end"] - s["start"] - child[i])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times()}, f)

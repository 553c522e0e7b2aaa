"""In-memory span recorder for the traced run.

A span is one timed interval at a layer boundary: run, set-up, warm pass,
timed loop, pass, query, and inside a query the layer calls (operator call,
Spark action, source read or write, geo kernel call). Spans carry the run's
trace id and their parent's id, so a span's self time is its duration minus
the time its children cover. Nothing is written until ``dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans = []
        self._stack = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span's attribute
        dict so the block can attach counters. A no-op when disabled."""
        if not self.enabled:
            yield {}
            return
        sid = self._next
        self._next += 1
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "trace": self.trace_id, "attrs": dict(attrs)}
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)

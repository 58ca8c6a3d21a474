"""Span recorder for the traced run.

Spans are recorded in the benchmark's own code around each call into a
layer's public functions: name, start, end, parent span and the run id
shared by every span of one run. They stay in memory and are written out
as JSON lines when the run ends. A layer's self time is its spans'
duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, the self time (seconds) of each span."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

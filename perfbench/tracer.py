"""In-memory span recorder for the traced benchmark run.

Spans wrap the benchmark's own calls into the engine's modules; nothing
inside the program is instrumented.  A span records its name, start,
end, parent span and request id, plus free-form attributes (query
shape, batch size).  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    """Records nested spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, rid: int, **attrs):
        if not self.enabled:
            return nullcontext()
        return self._span(name, rid, attrs)

    @contextmanager
    def _span(self, name: str, rid: int, attrs: dict):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "rid": rid,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> list[dict]:
        """Each span with ``self_s`` = its duration minus the part of its
        interval that its children cover (children never overlap: the
        benchmark client is single-threaded)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        return [
            {**s, "self_s": (s["end"] - s["start"]) - child_s[s["id"]]}
            for s in self.spans
        ]

    def durations(self, name: str, **match) -> list[float]:
        """Self time, in seconds, of the spans called ``name`` whose
        attributes equal ``match``."""
        return [
            s["self_s"]
            for s in self.self_times()
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.self_times(), f)

"""In-memory spans around the calls the benchmark makes into each layer.

A span has a name, a start, an end, a parent and the id of the request it
belongs to.  Spans stay in memory and are written out once, at the end of
the run.  A layer's self time is its span minus the part of that interval
covered by its child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "request": self.request,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, the self time of each of its spans, in seconds."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(i)
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            covered, reach = 0.0, s["start"]
            for c in sorted(children.get(i, ()), key=lambda k: self.spans[k]["start"]):
                lo = max(self.spans[c]["start"], reach)
                hi = min(self.spans[c]["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

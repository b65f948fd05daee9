"""In-memory spans around the calls the benchmark makes into each layer.

A span is ``(name, start, end, parent, run)``: ``parent`` is the index
of the enclosing span, ``run`` the run id shared by every span of one
benchmark run.  Spans stay in memory and are written out once, at the
end, as JSON lines.  A disabled tracer records nothing and costs one
attribute test per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (a micro-batch from
        listener progress)."""
        if self.enabled:
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": None,
                 "run": self.run_id, **attrs}
            )

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

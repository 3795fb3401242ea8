"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, a start and end (seconds on the monotonic clock since
the tracer was made), the id of the span that caused it and the id of
the request it belongs to. Spans stay in memory and are written once,
when the run ends. A disabled tracer records nothing and costs one
branch per call, so untraced runs share the code path."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.rid = 0

    def request(self) -> int:
        """Start a new request id for the spans that follow."""
        self.rid += 1
        return self.rid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "rid": self.rid, "start": time.perf_counter() - self._t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

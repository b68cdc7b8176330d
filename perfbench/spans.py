"""Spans and counts recorded by the benchmark around calls into the
package's layers.

A span has a name, a start and end (seconds on the monotonic clock,
relative to the tracer's creation), the id of the span that was open
when it started, and the run's trace id. Spans stay in memory and are
written out once, by ``dump``, when the run ends. With tracing off the
tracer records nothing and ``span`` costs one attribute check.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:16]
        self.t0 = time.monotonic()
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.monotonic() - self.t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self.t0

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = value

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"trace": self.trace_id, "spans": self.spans,
                       "counts": self.counts}, fh)

"""In-memory spans for the traced benchmark run.

A span records one call across a layer boundary: its name, start and end
(``time.perf_counter`` seconds), the span that caused it (``parent``, the
enclosing span on the same thread) and the request it belongs to
(``request_id``, shared by every span of one client request). Spans stay
in memory and are written out once, when the run ends.

The wrappers that create spans live in the workload modules and wrap the
engine's public calls from outside; the engine itself is not changed.
With tracing off the workloads use a ``NullTracer`` whose spans cost one
attribute lookup.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def enabled(self) -> bool:
        return True

    def request_id(self) -> str | None:
        return getattr(self._local, "request_id", None)

    @contextmanager
    def request(self, request_id: str | None):
        """Spans opened inside belong to ``request_id``."""
        prev = self.request_id()
        self._local.request_id = request_id
        try:
            yield
        finally:
            self._local.request_id = prev

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the enclosed block; yields the span's
        attribute dict so the block can add counts to it."""
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "request_id": self.request_id(),
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        stack.append(sid)
        try:
            yield rec["attrs"]
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (a streaming trigger, say) or
        a zero-length one that only carries counts."""
        with self._lock:
            sid = next(self._ids)
            self.spans.append({
                "id": sid, "name": name, "parent": None, "request_id": None,
                "start": start, "end": end, "attrs": dict(attrs),
            })

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class NullTracer:
    """Tracing off: the same interface, recording nothing."""

    spans: list[dict] = []

    @property
    def enabled(self) -> bool:
        return False

    def request_id(self) -> str | None:
        return None

    @contextmanager
    def request(self, request_id: str | None):
        yield

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        pass

    def named(self, name: str) -> list[dict]:
        return []

    def write(self, path: str) -> None:
        pass


def duration_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0

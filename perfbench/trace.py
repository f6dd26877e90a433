"""In-memory spans recorded around calls into the package.

A span is ``(id, parent, name, start, end, attrs)`` with wall-clock times
in seconds, so spans line up with the Spark event log's millisecond
timestamps. The parent is the innermost open span on the same thread.
Spans are kept in memory; the run writes them out once, when it ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": stack[-1] if stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn, **attrs):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str, after: float = 0.0) -> list[dict]:
        """Spans called ``name`` that started at or after ``after``, oldest first."""
        return sorted((s for s in self.spans if s["name"] == name and s["start"] >= after),
                      key=lambda s: s["start"])

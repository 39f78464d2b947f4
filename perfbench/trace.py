"""In-memory spans, written once when the benchmark ends.

A span has a name, the repo layer it belongs to, start and end
(``time.time()`` seconds) and the id of the span that caused it. The
parent defaults to the innermost open span of the calling thread;
callbacks that run on another thread (``foreachBatch`` bodies run on
the Py4J callback thread) pass their parent explicitly.

A disabled tracer records nothing, so untraced runs pay one
generator-based context manager per call site.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, layer: str, start: float, end: float, parent=None, **attrs) -> int | None:
        """Record a finished span; returns its id."""
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "layer": layer, "start": start,
                 "end": end, "parent": parent, **attrs}
            )
        return sid

    @contextmanager
    def span(self, name: str, layer: str, parent=None, **attrs):
        """Time the body as one span; yields a dict whose ``id`` is set
        once the span is open (for explicit parents on other threads)."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        rec = self.add(name, layer, time.time(), float("nan"), parent, **attrs)
        handle = {"id": rec}
        stack.append(rec)
        try:
            yield handle
        finally:
            stack.pop()
            self.spans[rec]["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

"""In-memory span recorder used on both sides of the wire.

A span is (id, name, start_ns, end_ns, parent id, trace id, attrs).
Times are CLOCK_MONOTONIC nanoseconds, which Linux shares between
processes, so client and server spans of one ticket line up. Spans are
kept in memory while the run measures and handed over at the end.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, prefix: str = ""):
        self.enabled = False
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._prefix = prefix
        self._local = threading.local()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self):
        stack = self._stack()
        return stack[-1] if stack else None

    def open(self, name: str, trace_id: str | None = None, **attrs):
        """Start a span in this thread; close it with ``close``."""
        parent = self.current()
        if trace_id is None and parent is not None:
            trace_id = parent[3]
        span = [f"{self._prefix}{next(self._ids)}", name, time.monotonic_ns(),
                parent[0] if parent else None, trace_id, attrs]
        self._stack().append(span)
        return span

    def close(self, span) -> None:
        end = time.monotonic_ns()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        sid, name, start, parent, trace_id, attrs = span
        self.spans.append((sid, name, start, end, parent, trace_id, attrs))

    def wrap(self, fn, name: str, attrs_of=None):
        """``fn`` recording a span per call while tracing is on."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name, **(attrs_of(*args, **kwargs) if attrs_of else {}))
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced

    def patch(self, owner, attr: str, name: str, attrs_of=None) -> None:
        raw = owner.__dict__.get(attr)
        fn = getattr(owner, attr)
        wrapped = self.wrap(fn, name, attrs_of)
        if isinstance(raw, staticmethod):
            wrapped = staticmethod(wrapped)
        setattr(owner, attr, wrapped)

    def drain(self) -> list[tuple]:
        spans, self.spans = self.spans, []
        return spans


def self_times(spans: list[tuple]) -> dict[str, float]:
    """Total self time (ns) per span name: each span's duration minus
    the part of its interval covered by its children."""
    children = defaultdict(list)
    for s in spans:
        if s[4] is not None:
            children[s[4]].append((s[2], s[3]))
    out: dict[str, float] = defaultdict(float)
    for sid, name, start, end, *_ in spans:
        covered = 0
        cursor = start
        for lo, hi in sorted(children.get(sid, ())):
            lo, hi = max(lo, cursor), min(hi, end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[name] += (end - start) - covered
    return dict(out)


"""In-memory spans for the traced benchmark run.

A span has a name, a start, an end and a parent. Spans are recorded around
calls into the program's public functions from the benchmark's own files;
nothing inside the package is instrumented. A span opened on a helper
thread with no span of its own open (the water map runs its polarization
branches on a thread pool) takes the innermost span open on the main
thread as its parent, so its time is attributed to the enclosing
benchmark span.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


class Tracer:
    """Records spans in memory; ``dump`` writes them out at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened on threads that never opened one
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _current_parent(self) -> int | None:
        st = self._stack()
        if st:
            return st[-1]
        return self._main_stack[-1] if self._main_stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        main = threading.current_thread() is threading.main_thread()
        st = self._main_stack if main else self._stack()
        # helper threads read the main stack, so it changes under the lock
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), self._current_parent(), attrs=dict(attrs))
            self.spans.append(sp)
            st.append(sp.id)
        try:
            yield sp
        finally:
            with self._lock:
                st.pop()
            sp.end = time.time()

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return span.duration - union_length(clip(kids, span.start, span.end))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@contextmanager
def patched(targets: list[tuple[object, str, str]], tracer: Tracer):
    """Temporarily wrap ``getattr(owner, attr)`` as span ``name`` for each
    ``(owner, attr, name)``; the originals are restored on exit."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for (owner, attr, name), (_, _, orig) in zip(targets, saved):
            setattr(owner, attr, tracer.wrap(orig, name))
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)

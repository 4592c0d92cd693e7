"""Spans recorded from outside the engine.

``Tracer.wrap(module, attr, name)`` replaces a module attribute (or a
class method) with a wrapper that records one span per call: name,
start, end, parent, thread and the current cycle id. The wrapper also
sets the Spark local property ``perfbench.span`` in its own thread, so
every job the call submits carries the span id into the event log.
Spans stay in memory; ``restore()`` puts every attribute back.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    thread: int
    cycle: int
    info: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self.cycle = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        # a worker thread's first span hangs under the span the main
        # thread has open (run_queue's workers under the runner span)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), None,
                      parent.id if parent else None, threading.get_ident(),
                      self.cycle)
            self.spans.append(sp)
        stack.append(sp)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(sp.id))
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        stack.pop()
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(stack[-1].id) if stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Record a span around every call of ``owner.attr``. ``on_call``
        (span, args, kwargs, result) may add counts to ``span.info``."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp = self.open(name)
            try:
                out = orig(*args, **kwargs)
            except BaseException:
                sp.info["raised"] = True
                raise
            finally:
                self.close(sp)
            if on_call is not None:
                on_call(sp, args, kwargs, out)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        kids = clip(children.get(s.id, []), s.start, s.end)
        out[s.id] = (s.end - s.start) - union_length(kids)
    return out

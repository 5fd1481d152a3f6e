"""Spans around the calls into the engine's public functions.

The traced run wraps selected functions and methods of the engine's
modules *from the benchmark process*: no engine file changes. Every span
carries the id of the statement in flight. The benchmark drives one
connection, so at most one statement is in flight and the client thread
and the server's handler thread can share that id.

A span's self time is its duration minus the part of it that its child
spans (spans opened on the same thread while it was open) cover.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    stmt: int | None
    name: str
    t0: float
    t1: float | None = None
    parent: int | None = None
    children: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return ((self.t1 or self.t0) - self.t0) * 1000.0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stmt: int | None = None
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, args, kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        span = Span(self.stmt, name, time.perf_counter(), parent=stack[-1] if stack else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
            if span.parent is not None:
                self.spans[span.parent].children.append(idx)
        stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            span.t1 = time.perf_counter()
            stack.pop()

    def mark(self, name: str) -> None:
        """A zero-length span: a point in time on the statement's path."""
        if self.enabled:
            now = time.perf_counter()
            with self._lock:
                self.spans.append(Span(self.stmt, name, now, now))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a class or module attribute) by a
        recording wrapper; :meth:`uninstall` puts the original back."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):  # on a class, binds like the method it replaces
            return self.call(name, fn, args, kwargs)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, raw))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._restore):
            setattr(owner, attr, raw)
        self._restore.clear()

    # -- analysis ------------------------------------------------------------

    def self_ms(self, idx: int) -> float:
        span = self.spans[idx]
        kids = [(self.spans[c].t0, self.spans[c].t1 or self.spans[c].t0) for c in span.children]
        return span.ms - covered(kids, span.t0, span.t1 or span.t0) * 1000.0

    def by_stmt(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.stmt is not None:
                out.setdefault(s.stmt, []).append(i)
        return out


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap the layer boundaries the benchmark reports on."""
    from driftdb_spark import commitlog, events, server, sql_frontend

    tracer.wrap(sql_frontend.DriftSession, "sql", "sql_frontend.sql")
    tracer.wrap(events.EventLog, "state_at", "events.state_at")
    tracer.wrap(events.EventLog, "_assign_and_publish", "events.append")
    tracer.wrap(events.EventLog, "last_sequence", "events.last_sequence")
    tracer.wrap(events.EventLog, "snapshot", "events.snapshot")
    tracer.wrap(events.EventLog, "compact", "events.compact")
    tracer.wrap(events.JsonFileMetaStore, "bump", "events.meta_bump")
    tracer.wrap(commitlog.CommitLogMetaStore, "bump", "events.meta_bump")
    # events.py imports resolve_sequence_at by name, so the name to wrap
    # is the one in the events module.
    tracer.wrap(events, "resolve_sequence_at", "temporal.resolve")
    original_ready = server._Handler._ready

    def ready(handler):
        tracer.mark("server.ready")
        return original_ready(handler)

    server._Handler._ready = ready
    tracer._restore.append((server._Handler, "_ready", original_ready))

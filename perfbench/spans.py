"""In-memory spans around calls into the engine's layers.

The benchmark records a span (name, start, end, parent, op id) at each
layer boundary it calls or wraps, plus the number of py4j commands sent
while the span was open.  Spans stay in memory until the run ends.
Wrapping is done from the benchmark's side: public functions of the
engine are replaced by thin wrappers for the life of the process; the
engine's code is not changed.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    op_id: str | None
    py4j_start: int
    end: float | None = None
    py4j_calls: int = 0

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Span recorder with a py4j command counter.

    ``active`` gates recording: a wrapper installed while tracing is off
    costs one attribute check per call.
    """

    def __init__(self):
        self.spans: list[Span] = []
        self.active = False
        self.op_id: str | None = None
        self.py4j_calls = 0
        self._stack: list[Span] = []

    def begin(self, name: str) -> Span | None:
        if not self.active:
            return None
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, time.perf_counter(), parent,
                    self.op_id, self.py4j_calls)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        span.py4j_calls = self.py4j_calls - span.py4j_start
        while self._stack and self._stack.pop() is not span:
            pass   # drop children left open by an exception

    def span(self, name: str):
        return _SpanCtx(self, name)

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed by the caller: the setup phases run before any
        wrapper can be installed."""
        span = Span(len(self.spans), name, start, None, self.op_id, 0)
        span.end = end
        self.spans.append(span)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span ``name``."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        setattr(owner, attr, wrapper)

    def count_py4j(self) -> None:
        """Count every py4j command the driver sends to the JVM."""
        from py4j import clientserver, java_gateway
        tracer = self
        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            fn = cls.send_command

            def wrapper(conn, command, *a, _fn=fn, **kw):
                tracer.py4j_calls += 1
                return _fn(conn, command, *a, **kw)

            cls.send_command = wrapper

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Self time per span name: each span's duration minus the part
        of it covered by its child spans."""
        covered: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + s.duration
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + s.duration - covered.get(s.id, 0.0)
        return out

    def as_dicts(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "start": round(s.start, 6),
                 "end": round(s.end or s.start, 6), "parent": s.parent,
                 "op_id": s.op_id, "py4j_calls": s.py4j_calls}
                for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.span = tracer, name, None

    def __enter__(self):
        self.span = self.tracer.begin(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer.end(self.span)
        return False

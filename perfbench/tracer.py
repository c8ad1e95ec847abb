"""In-memory spans around calls into the engine's public functions.

The benchmark wraps methods of the engine (``Tracer.wrap``) instead of
editing it: each call becomes a span with a name, start, end, parent span
and trace id (the micro-batch id). Spans nest per thread. Nothing is
written until ``dump`` at the end of the run. With ``enabled`` false a
wrapped call costs one attribute check.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from stats import self_time


@dataclass
class Span:
    id: int
    name: str
    trace: object
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace: object = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace is None and parent is not None:
            trace = parent.trace
        sp = Span(next(self._ids), name, trace, parent.id if parent else None, time.time(), attrs=attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until ``unwrap_all``.
        The span joins the trace of the span it runs in; ``attrs_of(args,
        result)`` adds span attributes after the call."""
        had = attr in vars(owner)
        raw = vars(owner).get(attr)
        inner = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not self.enabled:
                return inner(*args, **kwargs)
            with self.span(name) as sp:
                result = inner(*args, **kwargs)
                if attrs_of is not None:
                    sp.attrs.update(attrs_of(args, result))
                return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, had, raw))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, had, raw = self._undo.pop()
            if had:
                setattr(owner, attr, raw)
            else:
                delattr(owner, attr)

    def named(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= since]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_s(self, sp: Span) -> float:
        return self_time(sp.start, sp.end, [(c.start, c.end) for c in self.children(sp)])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                row = asdict(sp)
                row["self_s"] = self.self_s(sp)
                f.write(json.dumps(row, default=str) + "\n")

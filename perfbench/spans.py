"""Spans recorded from the benchmark's side of each engine module boundary.

`Tracer.span` times a block the benchmark runs (one isolated layer
materialization). `Tracer.wrap` temporarily replaces a module's public
function with a recording wrapper, so calls the engine makes into that
module — staging writes, commits, committed-url reads — become spans too.
Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._open[-1] if self._open else None
        self._open.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._open.pop()
            self.spans.append(Span(sid, parent, name, start, time.perf_counter()))

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.seconds(name))

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str, on_exit=None):
        """Record a span named `name` around every call of `owner.attr`
        while active. `on_exit(args, kwargs, result)` runs inside the span,
        after the call."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def recording(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
                if on_exit is not None:
                    on_exit(args, kwargs, result)
                return result

        setattr(owner, attr, recording)
        try:
            yield
        finally:
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

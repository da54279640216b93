"""In-memory spans for the traced run.

A span records its name, start, end, the span that caused it and the unit
(one timed request) it belongs to. Spans opened on a thread with no open
span, such as the runner's pool threads, take the unit's root span as
parent. Nothing is written until ``dump``.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "phabricator_etl_spark"


@dataclass
class Span:
    id: int
    parent: int | None
    unit: str
    name: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._unit = ""
        self._root: int | None = None

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._root
        s = Span(next(self._ids), parent, self._unit, name, time.perf_counter())
        stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)  # list.append is atomic under the GIL

    @contextmanager
    def unit(self, name: str):
        """Root span of one unit; spans from other threads attach to it."""
        self._unit = name
        with self.span(name) as root:
            self._root = root.id
            try:
                yield root
            finally:
                self._root = None

    def of_unit(self, unit: str) -> list[Span]:
        return [s for s in self.spans if s.unit == unit]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_seconds(spans: list[Span], span: Span) -> float:
    """A span's duration minus what its direct children cover."""
    return span.seconds - sum(c.seconds for c in spans if c.parent == span.id)


def wrap_everywhere(tracer: Tracer, func, name: str) -> list[tuple[object, str, object]]:
    """Rebind every package-module name that refers to ``func`` to a
    span-recording wrapper, covering ``from x import func`` bindings as well
    as the defining module. Returns what ``unwrap`` needs to undo it."""

    @functools.wraps(func)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return func(*args, **kwargs)

    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, value in list(vars(mod).items()):
            if value is func:
                setattr(mod, attr, traced)
                undo.append((mod, attr, func))
    return undo


def unwrap(undo: list[tuple[object, str, object]]) -> None:
    for mod, attr, func in undo:
        setattr(mod, attr, func)

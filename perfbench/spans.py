"""In-memory span tracing around the program's public entry points.

A span records name, start, end, parent span and op id. Spans are opened by
wrappers the benchmark installs on layer entry points (class or module
attributes of the program) and removed again when tracing stops; nothing in
the program itself is edited. Spans stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        # one row per span: [id, name, start, end, parent id, op id]
        self.spans: list[list] = []
        self.calls: dict[str, int] = defaultdict(int)
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        row = [sid, name, time.perf_counter(), None, parent, self.op]
        self.spans.append(row)
        self.calls[name] += 1
        self._stack.append(sid)
        try:
            yield
        finally:
            row[3] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a class or module attribute) with a
        wrapper that records a span per call."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until unwrap_all restores it."""
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of *intervals*, clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def self_times(spans: list[list]) -> dict[str, float]:
    """Per span name: summed duration minus the time its direct children
    cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for _sid, _name, start, end, parent, _op in spans:
        if parent is not None:
            children[parent].append((start, end))
    out: dict[str, float] = defaultdict(float)
    for sid, name, start, end, _parent, _op in spans:
        out[name] += (end - start) - _covered(children.get(sid, []), start, end)
    return dict(out)


def total_times(spans: list[list]) -> dict[str, float]:
    """Per span name: summed duration of the outermost spans of that name
    (a recursive call is not counted twice)."""
    names = {sid: name for sid, name, *_ in spans}
    parents = {sid: parent for sid, _n, _s, _e, parent, _o in spans}
    out: dict[str, float] = defaultdict(float)
    for sid, name, start, end, parent, _op in spans:
        p = parent
        while p is not None and names[p] != name:
            p = parents[p]
        if p is None:
            out[name] += end - start
    return dict(out)

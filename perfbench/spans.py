"""In-memory span recorder and the self-time arithmetic of a traced run.

A span is one timed call at a layer boundary: its name (the layer), start and
end on the ``time.perf_counter`` clock, the span that caused it and the trace
it belongs to (one trace per engine epoch). Spans stay in memory and are
written out once, when the run ends.

A span's *self time* is its duration minus the part of its interval that its
child spans cover. Summed over every span of one epoch, self times equal the
epoch's wall time exactly, so no time goes unattributed: what the named layers
do not cover is the root span's own self time (``engine.loop_s``).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Callable, Iterator


@dataclass
class Span:
    trace_id: int
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            children[s.parent_id].append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(children[s.span_id], s.start, s.end) for s in spans
    }


def self_by_name(spans: list[Span]) -> dict[str, float]:
    """Self time summed per span name over ``spans`` (one or more traces)."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.span_id]
    return dict(out)


def total_by_name(spans: list[Span]) -> dict[str, float]:
    """Inclusive duration summed per span name."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += s.duration
    return dict(out)


class Tracer:
    """Span and counter recorder for the benchmark's driver thread.

    Disabled, ``span`` is a no-op and ``add_span`` records nothing, so the
    untraced run pays one attribute test per wrapped call.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self.trace_id = 0
        self._next_id = 1
        self._stack: list[int] = []

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id - 1

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = self._new_id()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(self.trace_id, sid, parent, name, start, end))

    def add_span(self, name: str, start: float, end: float, parent_id: int | None) -> int:
        """Record a span whose bounds were measured elsewhere; returns its id."""
        sid = self._new_id()
        if self.enabled:
            self.spans.append(Span(self.trace_id, sid, parent_id, name, start, end))
        return sid

    def reparent(self, spans: list[Span], parent_id: int, lo: float, hi: float) -> None:
        """Adopt the parentless spans that lie inside ``[lo, hi]``."""
        for s in spans:
            if s.parent_id is None and s.start >= lo and s.end <= hi and s.span_id != parent_id:
                s.parent_id = parent_id

    def count(self, name: str, n: float = 1) -> None:
        """Add ``n`` to counter ``name`` of the current trace."""
        if self.enabled:
            self.counts[(self.trace_id, name)] += n

    def wrap(self, name: str, fn: Callable) -> Callable:
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

"""In-memory spans around calls into the system's layers.

A traced run wraps public functions of the library (``Tracer.wrap``);
each call records a span ``(name, layer, start, end, parent, batch)``.
Spans stay in memory and are written out once, when the run ends.
A span's self time is its duration minus the part of its interval that
its child spans cover, so per batch the self times of all its spans sum
exactly to the wall time of the batch's root span.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    batch: int | None


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[Span] = []
        self.batch: int | None = None
        # per-batch counters recorded at the same boundaries as the spans
        self.counts: dict[int | None, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, layer, time.perf_counter(), 0.0, parent, self.batch)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def count(self, key: str, value: float = 1) -> None:
        self.counts[self.batch][key] += value

    def wrap(self, owner, attr: str, layer: str, name=None, after=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until restore().

        ``name`` may be a string or ``f(args) -> str`` (e.g. to name a
        sink span after the sink instance); ``after(args, result)`` runs
        inside the span once the call returned, to record counters."""
        orig = getattr(owner, attr)
        label = name or f"{layer}.{attr}"

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(label(args) if callable(label) else label, layer):
                out = orig(*args, **kwargs)
                if after is not None:
                    after(args, out)
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "workload": self.workload}) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, dict[str, float]]:
    """{batch: {span name: summed self seconds}} over every span of each
    batch. Children are clipped to their parent's interval."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[s.id]
            if c.end > s.start and c.start < s.end
        ]
        out[s.batch][s.name] += (s.end - s.start) - _covered(kids)
    return out


def batch_walls(spans: list[Span]) -> dict[int, float]:
    """{batch: wall seconds of its root span}."""
    return {s.batch: s.end - s.start for s in spans if s.parent is None}

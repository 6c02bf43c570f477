"""In-memory spans and the summary statistics the benchmark reports.

A span is recorded around each call the benchmark makes into a layer of
the engine (``sources``, ``builder``, ``text``, ``engine``, ``trec``,
``sharded``, ``spark``); the layer is the span name's first dotted part,
and ``bench`` spans group the calls of one op. Spans are kept in a list and written once, when the run ends. With
tracing off, ``span`` returns a shared no-op context and records nothing.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager, nullcontext

_NULL = nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        # (name, start, end, parent index or -1, op id or -1)
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []

    def span(self, name: str, op_id: int = -1):
        return self._span(name, op_id) if self.enabled else _NULL

    @contextmanager
    def _span(self, name: str, op_id: int):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            name, start, _, parent, op_id = self.spans[idx]
            self.spans[idx] = (name, start, time.perf_counter(), parent, op_id)

    def durations(self, name: str) -> list[float]:
        """Wall seconds of every span called ``name``."""
        return [e - s for n, s, e, _, _ in self.spans if n == name]

    def self_seconds_by_layer(self) -> dict[str, float]:
        """Per layer, the summed span time not covered by child spans.
        Children of one span never overlap (the client is serial), so a
        span's self time is its duration minus its children's."""
        child = [0.0] * len(self.spans)
        for _, s, e, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += e - s
        out: dict[str, float] = {}
        for i, (name, s, e, _, _) in enumerate(self.spans):
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (e - s) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "op": o}
                    for n, s, e, p, o in self.spans
                ],
                f,
            )


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it, but
    never below p95: (value, percentile, sample count). Under 201
    samples that is p95, interpolated between the two nearest ranks. On
    ``interactive`` (100-200 ops a window) p95 lies inside the 10% empty
    ops, the slowest class, whatever the op count; a lower floor would
    move between classes as the count moves."""
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        return 0.0, 0.0, 0
    # rank n-11 (0-based) leaves exactly ten samples beyond it
    pos = max(n - 11, 0.95 * (n - 1))
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    value = ordered[lo] + (pos - lo) * (ordered[hi] - ordered[lo])
    return value, round(100.0 * pos / (n - 1), 2) if n > 1 else 100.0, n

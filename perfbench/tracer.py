"""In-memory spans recorded around calls into the program's layers.

Spans live only in the benchmark's own files: each one wraps a call into a
layer's public functions (or is rebuilt from a streaming batch's
``durationMs`` phases). They are kept in memory and written out once, when
the run ends, so recording costs a list append.
"""

from __future__ import annotations

import itertools
import json
import time
from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: str
    start: float
    end: float
    parent: int | None = None


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(
        self,
        name: str,
        trace_id: str,
        start: float,
        end: float,
        parent: int | None = None,
    ) -> int | None:
        """Record a span timed elsewhere; returns its id."""
        if not self.enabled:
            return None
        span = Span(next(self._ids), name, trace_id, start, end, parent)
        self.spans.append(span)
        return span.span_id

    @contextmanager
    def span(self, name: str, trace_id: str, parent: int | None = None) -> Iterator[int | None]:
        """Time the body as one span; yields the id for child spans."""
        if not self.enabled:
            yield None
            return
        span = Span(next(self._ids), name, trace_id, time.time(), 0.0, parent)
        try:
            yield span.span_id
        finally:
            span.end = time.time()
            self.spans.append(span)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def prefix_self_times(prefix_times: Sequence[tuple[str, float]]) -> dict[str, float]:
    """Self time of each stage of a lazily composed pipeline.

    ``prefix_times`` lists ``(stage, seconds)`` where the seconds are the
    time to materialize the pipeline up to and including that stage. A
    stage's self time is its marginal cost over the previous prefix, floored
    at zero (a later prefix can read faster than an earlier one when
    Catalyst prunes columns the earlier one still had to compute).
    """
    out: dict[str, float] = {}
    prev = 0.0
    for stage, t in prefix_times:
        out[stage] = max(0.0, t - prev)
        prev = t
    return out

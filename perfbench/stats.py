"""Statistics and tracing for the benchmark: the tail-percentile rule,
failure accounting, and in-memory spans with per-layer self time."""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    strictly above it: returns ``(value, percentile, samples_beyond)``,
    where ``percentile`` is the share of samples at or below ``value``.
    Raises ValueError when fewer than ``beyond + 1`` samples exist."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    k = n - 1 - beyond
    # samples tied with xs[k] are not beyond it: step down past ties
    while k >= 0 and xs[k] == xs[k + 1]:
        k -= 1
    if k < 0:
        raise ValueError(f"fewer than {beyond} samples above any value")
    return xs[k], 100.0 * (k + 1) / n, n - 1 - k


@dataclass
class OpLog:
    """Outcome of every timed operation. An operation that raised or
    whose output failed its check counts as failed; its latency is still
    recorded, as measured up to the failure."""

    latencies: list[float] = field(default_factory=list)
    failed: int = 0
    rows: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, seconds: float, rows: int, error: str | None = None) -> None:
        self.latencies.append(seconds)
        self.rows += rows
        if error is not None:
            self.failed += 1
            self.errors.append(error)

    @property
    def attempted(self) -> int:
        return len(self.latencies)

    @property
    def error_rate(self) -> float:
        if not self.latencies:
            raise ValueError("no operation attempted")
        return self.failed / self.attempted


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    op: int | None  # operation the span belongs to; None for set-up


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.

    ``span`` nests through a per-thread stack, so spans opened inside
    another on the same thread become its children. A disabled tracer
    records nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), float("nan"), parent, op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(
        self, name: str, start: float, end: float, op: int | None = None,
        parent: int | None = None,
    ) -> None:
        """Record a span timed elsewhere (e.g. on a streaming thread)."""
        if self.enabled:
            with self._lock:
                self.spans.append(Span(name, start, end, parent, op))

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover (overlapping children count
    once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - _covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]

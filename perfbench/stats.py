"""Pure arithmetic the benchmark reports: medians with sample counts,
ratios with their bases, and span self times. No Spark, no I/O, so the
unit tests in ``perfbench/tests`` pin every formula."""

from __future__ import annotations

import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Summary:
    """A timing reported as its median and maximum over ``n`` samples."""

    p50: float
    max: float
    n: int


def summarize(samples: list[float]) -> Summary:
    if not samples:
        raise ValueError("summarize() needs at least one sample")
    return Summary(statistics.median(samples), max(samples), len(samples))


@dataclass(frozen=True)
class Ratio:
    """``num / den`` kept together with both bases, so a reader can tell
    0/0 (no work) from a real zero."""

    num: float
    den: float

    @property
    def value(self) -> float:
        return self.num / self.den if self.den else 0.0


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median — the run-to-run spread the benchmark's bounds are checked
    against (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


@dataclass(frozen=True)
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
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
    """Span id → duration minus the part of its interval that its direct
    children cover. Children that overlap each other (threads inside a
    tick) are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }

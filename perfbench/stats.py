"""Summary statistics and interval arithmetic for the benchmark's reports."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

Interval = tuple[float, float]

# a tail percentile is reported only where at least this many samples lie above it
TAIL_MIN_ABOVE = 10


def tail_percentile(samples: Sequence[float]) -> tuple[int, float]:
    """(p, value): the highest whole percentile p that has at least
    ``TAIL_MIN_ABOVE`` samples above it, and its nearest-rank value.

    With n samples, the nearest-rank p-th percentile is the sample of rank
    ceil(p * n / 100); ranks above it number n minus that rank. The largest
    p keeping that count at ``TAIL_MIN_ABOVE`` or more is
    floor(100 * (n - TAIL_MIN_ABOVE) / n)."""
    n = len(samples)
    if n <= TAIL_MIN_ABOVE:
        raise ValueError(f"need more than {TAIL_MIN_ABOVE} samples, got {n}")
    p = (100 * (n - TAIL_MIN_ABOVE)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(samples)[rank - 1]


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals or min(vals) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def union_length(intervals: Iterable[Interval]) -> float:
    """Total length covered by the union of closed intervals."""
    total, end = 0.0, -math.inf
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def clip(intervals: Iterable[Interval], lo: float, hi: float) -> list[Interval]:
    """The parts of ``intervals`` that lie inside [lo, hi]."""
    out = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            out.append((a, b))
    return out


def self_time(span: Interval, children: Iterable[Interval]) -> float:
    """A span's duration minus the part of it that its children cover;
    overlapping children count once."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))

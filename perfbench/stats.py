"""The benchmark's own arithmetic: the tail-percentile rule and interval
coverage for span self time."""

from __future__ import annotations

import math


def tail(samples, min_beyond: int = 10) -> tuple[int, float, int] | None:
    """``(percentile, value, n)``: the highest whole percentile whose
    nearest-rank value has at least ``min_beyond`` samples strictly above
    its rank, so the figure never rests on fewer than ``min_beyond``
    observations of the tail. ``None`` when ``n <= min_beyond``."""
    xs = sorted(samples)
    n = len(xs)
    if n <= min_beyond:
        return None
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)  # 1-based nearest rank
        if n - rank >= min_beyond:
            return p, float(xs[rank - 1]), n
    return None


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``
    (overlapping intervals count once)."""
    total = 0.0
    cur_lo = cur_hi = None
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


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)

"""Summary statistics shared by every timing the benchmark reports.

A timing is reported as its median plus a tail: the highest percentile on
``TAIL_LADDER`` that still has at least ``MIN_BEYOND`` samples beyond it, so
a tail figure never rests on a handful of samples. The sample count travels
with every summary.
"""

from __future__ import annotations

import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the ``p``-th percentile of ``n`` samples
    (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(math.ceil(round(p / 100.0 * n, 9)), 1)


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked strictly above the nearest-rank ``p``-th percentile."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` samples beyond
    it, or None when even the median has fewer (n < 20)."""
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def nearest_rank(values: list[float], p: float) -> float:
    """Nearest-rank percentile of ``values`` (need not be sorted)."""
    ordered = sorted(values)
    return ordered[_rank(len(ordered), p) - 1]


def summarize(values: list[float]) -> dict:
    """Median, tail percentile and sample count. When no percentile above
    the median is supported, the tail is the median itself (``tail_p`` 50)."""
    n = len(values)
    if n == 0:
        return {"n": 0, "p50": float("nan"), "tail_p": None, "tail": float("nan")}
    p = tail_percentile(n)
    med = statistics.median(values)
    if p is None or p == 50.0:
        return {"n": n, "p50": med, "tail_p": 50.0, "tail": med}
    return {"n": n, "p50": med, "tail_p": p, "tail": nearest_rank(values, p)}


def median(values: list[float], default: float = float("nan")) -> float:
    return statistics.median(values) if values else default


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)

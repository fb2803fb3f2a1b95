"""Summary statistics and span arithmetic for the benchmark."""
import math
import statistics
from fractions import Fraction

# Percentiles the tail rule chooses from, lowest first.
LADDER = (50, 75, 90, 95, 99, 99.9)


def median(xs):
    return statistics.median(xs) if xs else None


def tail_percentile(samples):
    """The highest ladder percentile with at least ten samples beyond it.

    Returns (percentile, value) or None when there are fewer than 20
    samples. The value is the nearest-rank percentile, the sample of rank
    ceil(n * p / 100); at least ten samples rank after it.
    """
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in LADDER:
        rank = max(1, math.ceil(Fraction(str(p)) * n / 100))
        if n - rank >= 10:
            best = (p, xs[rank - 1])
    return best


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its own
    interval that its children cover. `spans` maps id -> dict with
    start, end and parent (None for a root)."""
    children = {}
    for sid, s in spans.items():
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {sid: (s["end"] - s["start"])
            - union_length(children.get(sid, []), s["start"], s["end"])
            for sid, s in spans.items()}

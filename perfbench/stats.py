"""Arithmetic of the benchmark's report: medians, quartiles, the tail
percentile, and self time from overlapping job intervals."""

import math
import statistics


def median(xs):
    return statistics.median(xs)


def mean(xs):
    return statistics.fmean(xs)


def quartiles(xs):
    """(q1, q2, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


# A tail is reported only with at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(xs):
    """The highest percentile with at least TAIL_BEYOND samples above it.

    Returns (percentile, value, n), or None when there are too few samples
    (at most TAIL_BEYOND) for any percentile to have that many beyond it.
    With the samples sorted, the value at rank k = n - TAIL_BEYOND leaves
    exactly TAIL_BEYOND samples after it; its percentile is 100 k / n.
    """
    n = len(xs)
    k = n - TAIL_BEYOND
    if k < 1:
        return None
    s = sorted(xs)
    return 100.0 * k / n, s[k - 1], n


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], clipped to
    [lo, hi] when given. Overlapping and nested intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
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


def self_time(start, end, child_intervals):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(child_intervals, start, end)

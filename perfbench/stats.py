"""Order statistics and interval arithmetic for the benchmark's metrics."""
import math
import statistics

TAIL_BEYOND = 10


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else math.nan


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples that is the
    (n - beyond)-th smallest, at percentile 100 * (n - beyond) / n. When
    that percentile would fall below the median (n < 2 * beyond) no tail
    is resolvable and the maximum is reported, at percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return math.nan, None, 0
    k = n - beyond
    if k < math.ceil(n / 2):
        return s[-1], 100.0, n
    return s[k - 1], 100.0 * k / n, n


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def covered(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in union(intervals))


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    t0, t1 = span
    return (t1 - t0) - covered(children, t0, t1)

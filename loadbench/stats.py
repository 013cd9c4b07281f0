"""Statistics of the benchmark: order statistics with the sample-size rule,
span self time, and the spread of repeated runs.

Pure functions over plain lists and dicts; run.py applies them to the raw
result a benchmark JVM writes, and test_stats.py checks them.
"""

import math
import statistics

# A percentile is reported only when at least this many samples lie beyond
# it, so one outlier cannot be the reported value.
BEYOND = 10


def median(xs):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def rank(n, q):
    """1-based nearest rank of quantile q (0 < q < 1) in n sorted samples."""
    if not 0 < q < 1:
        raise ValueError("quantile must be in (0, 1)")
    return max(1, math.ceil(q * n))


def beyond(n, q):
    """How many of n samples lie beyond the nearest-rank q-th quantile."""
    return n - rank(n, q)


def supported(n, q):
    """True when n samples leave at least BEYOND samples beyond quantile q.

    For q = 0.75 that needs n >= 40; for the median, n >= 20.
    """
    return beyond(n, q) >= BEYOND


def percentile(xs, q):
    """Nearest-rank q-th quantile of xs, or None when the sample is too
    small to support it (fewer than BEYOND samples beyond it)."""
    if not supported(len(xs), q):
        return None
    return sorted(xs)[rank(len(xs), q) - 1]


def covered(intervals, lo, hi):
    """Length of the union of `intervals` (start, end) clipped to [lo, hi].

    Overlapping and nested intervals are counted once.
    """
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if e <= s:
            continue
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
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (each instant once, even
    where children overlap each other).

    `spans` is a list of dicts with keys id, parent, start, end; returns
    {id: self time} in the same unit as start/end.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def spread(values):
    """(median, q1, q3, iqr/median) of repeated runs' values, with the
    quartiles as statistics.quantiles(values, n=4) gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return m, q1, q3, (q3 - q1) / m

"""Arithmetic shared by the metrics and the trace: percentiles, spreads,
interval unions and span self times. Pure functions, unit-tested in
test_perfbench.py."""
import statistics

import numpy as np

PERCENTILES = (50.0, 90.0, 99.0, 99.9, 99.99)


def highest_percentile(n, candidates=PERCENTILES, beyond=10):
    """The highest percentile that still has at least `beyond` samples above
    it among `n` samples, or None when even the median has fewer."""
    ok = [q for q in candidates if n * (100.0 - q) / 100.0 >= beyond - 1e-9]
    return max(ok) if ok else None


def weighted_percentile(values, weights, q):
    """Percentile `q` of `values`, each repeated `weights` times (one sample
    per event when a value stands for a group of events)."""
    values = np.asarray(values, dtype=float)
    weights = np.asarray(weights, dtype=np.int64)
    if weights.sum() == 0:
        return float("nan")
    return float(np.percentile(np.repeat(values, weights), q))


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


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
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
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
    """Span id -> duration minus the part of its interval its children cover.

    `spans` are dicts with id, parent, start_ms and end_ms."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - union_length(
                children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}

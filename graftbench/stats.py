"""Order statistics and span arithmetic for the benchmark's reports.

Percentiles use the nearest-rank rule: the p-th percentile of n sorted
samples is the sample at rank ceil(p * n / 100), and the samples beyond
it are the n - rank samples ranked above it.
"""
import math
import statistics


def rank(p, n):
    """1-based nearest rank of the p-th percentile among n samples."""
    return max(1, math.ceil(p * n / 100))


def percentile(values, p):
    xs = sorted(values)
    return xs[rank(p, len(xs)) - 1]


def tail_percentile(n, min_beyond=10):
    """The highest whole percentile from 50 to 99 with at least
    `min_beyond` samples beyond it, or None when n samples support none.
    """
    for p in range(99, 49, -1):
        if n - rank(p, n) >= min_beyond:
            return p
    return None


def quartiles(values):
    """First quartile, median and third quartile, as Python's
    statistics.quantiles(n=4) gives them (the 'exclusive' method)."""
    return tuple(statistics.quantiles(values, n=4))


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """Self time per layer: each span's duration minus the part of its
    interval its child spans cover. Spans are dicts with id, parent,
    layer, start and end (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        covered = union_length([k for k in kids if k[1] > k[0]])
        out[s["layer"]] = out.get(s["layer"], 0.0) + \
            (s["end"] - s["start"]) - covered
    return out

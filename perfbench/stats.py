"""The benchmark's own arithmetic: percentiles, misses, span self time,
interval unions.  Kept free of I/O so the unit tests can pin it."""
import math
import statistics

# Percentile ladder for tail latencies.  The reported tail is the highest
# rung with at least MIN_BEYOND samples above it (the median needs it too).
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list: the smallest value
    with at least p% of the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_level(n):
    """The highest ladder percentile with at least MIN_BEYOND of n
    samples strictly beyond its nearest rank, or None when even the
    median has fewer (fewer than 2 * MIN_BEYOND samples)."""
    best = None
    for p in LADDER:
        if n - max(1, math.ceil(p / 100.0 * n)) >= MIN_BEYOND:
            best = p
    return best


def with_misses(latencies, ok, miss_value):
    """Latencies with every failed op replaced by `miss_value`, which the
    caller picks above any real latency: a failed op counts as missing
    every latency limit, so it lands in the tail, never under it."""
    return [v if good else miss_value for v, good in zip(latencies, ok)]


def latency_summary(latencies, ok, miss_value):
    """(p50, tail, tail_level, n) over the ops, failed ops as misses.
    The p50 is the median (the mean of the middle two for even n); the
    tail is nearest-rank.  With too few samples for any ladder rung the
    tail is the maximum (level 100)."""
    xs = with_misses(latencies, ok, miss_value)
    level = tail_level(len(xs))
    tail = percentile(xs, level) if level is not None else max(xs)
    return statistics.median(xs), tail, (level or 100.0), len(xs)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    """{span id: self time}: each span's duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent, overlapping children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_length([(max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                                for c in kids.get(s["id"], [])])
        out[s["id"]] = (hi - lo) - covered
    return out

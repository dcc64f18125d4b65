"""Pure helpers the benchmark uses to turn raw samples into metrics."""

import math
import statistics

# Percentiles a tail is reported at, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def nearest_rank(sorted_xs, pct):
    """Value at percentile `pct` by the nearest-rank rule (1-based rank
    ceil(pct/100 * n))."""
    n = len(sorted_xs)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_xs[rank - 1]


def tail(xs):
    """The highest of TAIL_PERCENTILES that has at least MIN_BEYOND samples
    beyond it, as (percentile, value). (None, None) when even the median
    lacks that many."""
    s = sorted(xs)
    n = len(s)
    for pct in TAIL_PERCENTILES:
        if n - max(1, math.ceil(pct / 100.0 * n)) >= MIN_BEYOND:
            return pct, nearest_rank(s, pct)
    return None, None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], each clipped to
    [lo, hi] when given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
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


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    start, end = span
    return (end - start) - union_length(children, start, end)


def fingerprint_mismatches(recorded, ops):
    """Names of the operations whose output fingerprint differs from the
    recorded one. `recorded` maps a query name to {"hash", "rows"}; each op
    carries name, ok, hash and rows. A failed op, or one with no recorded
    fingerprint, is a mismatch."""
    bad = []
    for op in ops:
        want = recorded.get(op["name"])
        if (not op["ok"] or want is None or str(op["hash"]) != str(want["hash"])
                or int(op["rows"]) != int(want["rows"])):
            bad.append(op["name"])
    return bad

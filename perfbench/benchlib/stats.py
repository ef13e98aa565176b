"""The benchmark's arithmetic: percentiles, interval unions, span self
time and the failure tally. Pure functions, tested in tests/test_stats.py."""

import math
import statistics

# the guide's rule: a percentile is reported only with at least this many
# samples beyond it
MIN_BEYOND = 10


def percentile(values, q):
    """Linear-interpolation percentile (numpy's default, type 7) of
    `values` at fraction q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, q):
    """How many samples lie strictly above the q-percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def supported(values, q):
    """True when at least MIN_BEYOND samples lie beyond the q-percentile."""
    return bool(values) and beyond(values, q) >= MIN_BEYOND


def highest_supported(values, levels=(0.99, 0.95, 0.9, 0.75, 0.5)):
    """The highest percentile level with MIN_BEYOND samples beyond it, as
    (level, value, sample count); None when even the median lacks them."""
    for q in levels:
        if supported(values, q):
            return q, percentile(values, q), len(values)
    return None


def describe(values, q):
    """'p90=812.3 ms over 41 samples, 5 beyond' — the stated sample count
    that goes next to every reported percentile."""
    return "p%d=%.1f over %d samples, %d beyond%s" % (
        round(q * 100), percentile(values, q), len(values), beyond(values, q),
        "" if supported(values, q) else " (fewer than %d)" % MIN_BEYOND)


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0.0
    cur_s = cur_e = None
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


def clipped(intervals, lo, hi):
    """The parts of `intervals` inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once).
    `spans` are dicts with id, parent, t0, t1; returns {id: self time}."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(
        clipped(children.get(s["id"], []), s["t0"], s["t1"])) for s in spans}


def tally(ops, wrong=()):
    """(attempted, failed) over operations. An operation fails when it
    threw, left a cache entry behind, or belongs to a result the grader
    found wrong — a thrown query and a wrong result count alike."""
    wrong = set(wrong)
    failed = sum(1 for o in ops
                 if not o["ok"] or o.get("cache_left", 0) > 0 or o["name"] in wrong)
    return len(ops), failed


def median(values):
    return statistics.median(values) if values else 0.0


def gmean(values):
    """Geometric mean of positive values."""
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


"""Order statistics and span arithmetic for the benchmark's reports."""
import statistics


def median(xs):
    """Median of a non-empty sequence (mean of the middle pair if even)."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of empty sequence")
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def percentile(xs, p):
    """The p-th percentile (0..100) by linear interpolation between
    closest ranks, the same rule as numpy's default."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of empty sequence")
    if not 0 <= p <= 100:
        raise ValueError("p must be within 0..100")
    pos = (len(xs) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartile_spread(xs):
    """(Q3 - Q1) / median, with quartiles as `statistics.quantiles(xs,
    n=4)` gives them: the steadiness measure the benchmark is held to."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


def _union_length(intervals):
    total = 0.0
    end = None
    start = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            if end is not None:
                total += end - start
            start, end = s, e
        else:
            end = max(end, e)
    if end is not None:
        total += end - start
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval covered by its children (children clipped to the parent,
    overlapping children counted once). `spans` are dicts with id,
    parent, start and end; returns {id: self seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in children.get(s["id"], [])]
        covered = [(a, b) for a, b in covered if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - _union_length(covered)
    return out


def self_time_by_name(spans):
    """Self time summed per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out

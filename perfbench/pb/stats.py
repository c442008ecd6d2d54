"""Arithmetic the benchmark reports: percentiles, failure shares, span
self times and run-to-run spreads. Pure functions, unit-tested."""
import statistics


def percentile(xs, q):
    """q-th percentile (0-100) with linear interpolation between the
    closest ranks (numpy's default `linear` method)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return percentile(xs, 50)


def failed_share(attempted, failed):
    """Failed ops over attempted ops. A refused, timed-out or wrong
    answer is a failed op, so `failed` can never exceed `attempted`."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed=%d outside [0, %d]" % (failed, attempted))
    return failed / attempted


def _covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        a = max(a, end)
        total += b - a
        end = b
    return total


def self_times(spans):
    """{span id: self time}: a span's duration minus the part of its
    interval that its children cover. Spans are dicts with `id`,
    `parent` (None or 0 for a root), `start` and `end`."""
    kids = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - _covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def quartile_spread(values):
    """Distance between the first and third quartile over the median,
    as `statistics.quantiles(values, n=4)` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2

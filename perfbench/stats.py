"""Pure metric arithmetic shared by run.py and selftest.py."""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    return bool(NAME_RE.match(name))


def tail(values, beyond=10):
    """The highest percentile of `values` with at least `beyond` samples
    above it: the (n - beyond)-th smallest value, with its percentile and
    the sample count. With n <= beyond no percentile qualifies; the
    smallest value is returned, the order statistic with the most samples
    above it, so the value does not jump as n crosses beyond + 1.
    `is_tail` says whether the value is a tail at all: p90 or above, which
    takes n >= 10 * beyond samples. Below that a slow outlier among the
    samples does not move the value."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"value": None, "pct": None, "n": 0, "sufficient": False, "is_tail": False}
    k = max(1, n - beyond)
    pct = 100.0 * k / n
    return {"value": xs[k - 1], "pct": pct, "n": n, "sufficient": n > beyond,
            "is_tail": n > beyond and pct >= 90.0}


def median(values):
    return statistics.median(values) if values else None


def self_times(spans):
    """Self time of each span of one op, in the span's time unit.

    `spans` is a list of (name, t0, t1); the first is the op's root span.
    Every instant of the root interval is attributed to exactly one span:
    the innermost active one, taken as the latest-started span covering it
    (ties go to the later span in the list). Child spans are clipped to
    the root. The self times therefore add up to the root's duration.
    Returns a list of self times aligned with `spans`."""
    r0, r1 = spans[0][1], spans[0][2]
    clipped = [(max(r0, min(t0, r1)), max(r0, min(t1, r1))) for _, t0, t1 in spans]
    cuts = sorted({t for iv in clipped for t in iv})
    out = [0.0] * len(spans)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        best = 0
        for k, (t0, t1) in enumerate(clipped):
            if t0 <= mid < t1 and (t0, k) >= (clipped[best][0], best):
                best = k
        out[best] += b - a
    return out

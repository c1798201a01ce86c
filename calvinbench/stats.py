"""Statistics the benchmark reports. Pure functions, unit-tested in
test_stats.py."""
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def iqr_share(xs):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def tail(xs):
    """(value, percentile, samples): the highest percentile with at least
    10 samples beyond it, never below the median. With 10 samples or fewer
    no percentile has 10 beyond it, and the tail is the maximum."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    i = max(n - 11, (n - 1) // 2)
    return s[i], 100.0 * (i + 1) / n, n


def drift(walls):
    """Median of the last quarter of the batch walls over the median of
    the first quarter (a quarter is at least one batch)."""
    q = max(1, len(walls) // 4)
    return median(walls[-q:]) / median(walls[:q])


def commit_ratio(committed, attempted):
    return committed / attempted


def _covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Seconds per layer: each span's duration minus the part of its
    interval that its child spans cover. Spans are dicts with id, parent,
    layer, startMs and endMs."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["startMs"], s["endMs"]))
    out = {}
    for s in spans:
        lo, hi = s["startMs"], s["endMs"]
        own = max(0.0, hi - lo) - _covered(children.get(s["id"], []), lo, hi)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1000.0
    return out

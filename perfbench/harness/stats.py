"""Latency statistics for the benchmark's end-to-end metrics."""
import math
import statistics

# Tail percentiles tried from the highest down; op_tail_s reports the
# first one with at least MIN_BEYOND samples above it.
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Failed operations enter as math.inf, so
    they count as misses, never as fast samples."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values):
    """(percentile, value): the highest ladder percentile with at least
    MIN_BEYOND samples beyond it; the median when there are too few
    samples for any (then fewer than MIN_BEYOND lie beyond it)."""
    n = len(values)
    for p in LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


def spread(values):
    """Interquartile range over the median, with the quartiles of
    statistics.quantiles(values, n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)

"""Order statistics used for every reported timing."""
import math
import statistics

# A tail percentile is reported only with at least this many samples
# beyond it; with fewer, the "tail" is a handful of samples.
MIN_BEYOND = 10


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile, p in (0, 100]."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(xs, p):
    """The p-th percentile when at least MIN_BEYOND samples lie beyond it,
    else None (the tail is not resolved by this many samples)."""
    if len(xs) - math.ceil(p / 100.0 * len(xs)) < MIN_BEYOND:
        return None
    return percentile(xs, p)


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def iqr_share(xs):
    """(Q3 - Q1) / median, the run-to-run spread a bound is judged against."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def due_time_latencies(due_ms, covered_ms):
    """Open-loop latency of each request: from the time it was DUE to be
    sent to the time its result was committed. Measuring from the due time
    (not from when the generator actually sent it) charges a stall to every
    request scheduled behind it."""
    return [c - d for d, c in zip(due_ms, covered_ms)]

"""Order statistics shared by the run, steadiness and compare tools."""
import statistics


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """The p-th percentile (0..100), linear between closest ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = quartiles(xs)
    m = median(xs)
    return (q3 - q1) / m if m else float("inf")

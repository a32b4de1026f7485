"""Percentile, mean and ratio math for the benchmark's metrics."""
import math


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between the
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values):
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def ratio(num, den):
    """num / den, or 0.0 when there is nothing to divide by."""
    return num / den if den else 0.0

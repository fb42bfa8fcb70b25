"""Percentile and spread helpers shared by run.py and spread.py."""
import statistics


def median(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q3) as statistics.quantiles(xs, n=4) gives them; a single
    sample is its own quartiles."""
    xs = list(xs)
    if len(xs) < 2:
        return (median(xs), median(xs))
    q = statistics.quantiles(xs, n=4)
    return (q[0], q[2])


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q3 = quartiles(xs)
    m = median(xs)
    return (q3 - q1) / m if m else float("inf")

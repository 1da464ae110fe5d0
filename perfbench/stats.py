"""Summary statistics shared by the runner and the diff tool."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, beyond=10, cap=0.9):
    """The highest percentile, up to `cap`, that has at least `beyond`
    samples above it: `(percentile, value, n)` by nearest rank. None when
    that percentile would not lie above the median (fewer than
    2 * beyond + 2 samples)."""
    n = len(xs)
    k = min(n - 1 - beyond, math.ceil(cap * n) - 1)
    if k <= (n - 1) / 2:
        return None
    return (k + 1) / n, sorted(xs)[k], n


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    if len(xs) < 2:
        x = xs[0] if xs else None
        return x, x, x
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def spread(xs):
    """Inter-quartile range as a share of the median."""
    q1, m, q3 = quartiles(xs)
    return (q3 - q1) / m if m else float("inf")

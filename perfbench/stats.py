"""Order statistics shared by run.py and compare.py."""
import math
import statistics

# A reported percentile must have at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile of values. Refuses (ValueError) unless at
    least MIN_BEYOND samples lie above the chosen rank, so p90 needs 100
    samples and p50 needs 20."""
    n = len(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p} of {n} samples has {n - rank} beyond it; "
                         f"{MIN_BEYOND} are needed")
    return sorted(values)[rank - 1]


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")

"""Summary statistics the benchmark reports, kept apart so the self-check
can pin them on hand-made samples."""
import math
import statistics


def percentile(values, p):
    """Percentile with linear interpolation between the two nearest ranks
    (numpy's default, statistics.quantiles' "inclusive" method). Unlike a
    nearest-rank percentile it does not jump from one sample to the next
    when a single sample crosses its neighbour."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return statistics.median(values)


def failed_share(attempted, failed):
    """Failed ops over attempted ops; retries are attempts of their own."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    return min(failed, attempted) / attempted


def spread(values):
    """Inter-quartile distance as a share of the median, as
    statistics.quantiles(values, n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2

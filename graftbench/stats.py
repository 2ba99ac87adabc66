"""Summary statistics of raw samples, and the /proc health helpers.

The percentile rule: every sample set reports its median, plus the
highest percentile of {75, 90, 95, 99} that has at least ten samples
beyond it, so a tail figure never rests on fewer than ten observations.
Percentiles are nearest-rank. No minimum-of-N, no trimming.
"""
import math
import statistics

TAILS = (0.99, 0.95, 0.90, 0.75)
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a
    share ``q`` of the samples at or below it."""
    s = sorted(xs)
    return s[max(math.ceil(q * len(s)) - 1, 0)]


def tail_quantile(n):
    """The highest tail percentile ``n`` samples support, or None."""
    for q in TAILS:
        if n - math.ceil(q * n) >= MIN_BEYOND:
            return q
    return None


def summary(xs):
    """[(quantile, value)]: the median, then the supported tail if any."""
    if not xs:
        return []
    out = [(0.5, median(xs))]
    q = tail_quantile(len(xs))
    if q is not None:
        out.append((q, percentile(xs, q)))
    return out


def steal_share(before, after):
    """Share of CPU time stolen by the hypervisor between two /proc/stat
    cpu lines (user nice system idle iowait irq softirq steal ...)."""
    if not before or not after or len(before) < 8 or len(after) < 8:
        return None
    total = sum(after[:8]) - sum(before[:8])
    return (after[7] - before[7]) / total if total > 0 else 0.0

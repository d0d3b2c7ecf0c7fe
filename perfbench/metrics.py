"""Statistics the benchmark reports: medians, tail percentiles under the
ten-samples-beyond rule, and the self times of chained prefix spans."""
import math
import statistics

TAIL_CANDIDATES = (99, 95, 90, 75)


def percentile(samples, p):
    """Nearest-rank p-th percentile of a non-empty sample."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def tail(samples, wanted=90):
    """The highest percentile no higher than `wanted` that has at least ten
    samples beyond it, as (percentile, value); None when even the lowest
    candidate has fewer than ten samples beyond it."""
    n = len(samples)
    for p in TAIL_CANDIDATES:
        if p > wanted:
            continue
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= 10:
            return p, percentile(samples, p)
    return None


def median(samples):
    return statistics.median(samples) if samples else float("nan")


def prefix_self_times(walls):
    """Walls of chained prefix materializations (each adds one layer to the
    previous one) -> each layer's self time: its prefix's wall minus the
    previous prefix's wall. The self times add up to the last wall."""
    return [w - (walls[i - 1] if i else 0.0) for i, w in enumerate(walls)]

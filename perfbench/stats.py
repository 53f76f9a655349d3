"""Statistics the benchmark reports."""
import statistics

TAIL_BEYOND = 10


def tail(values):
    """The highest percentile of `values` with at least TAIL_BEYOND samples
    beyond it, as (value, percentile, samples beyond). Below 2 * TAIL_BEYOND + 1
    samples no percentile above the median qualifies, and the median is
    reported."""
    xs = sorted(values)
    n = len(xs)
    if n > 2 * TAIL_BEYOND:
        i = n - 1 - TAIL_BEYOND
        return xs[i], 100.0 * (i + 1) / n, TAIL_BEYOND
    return statistics.median(xs), 50.0, n // 2


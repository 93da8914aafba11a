"""Summary statistics shared by the metrics and their unit tests."""
import statistics

# Percentiles tried for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 66.0, 60.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, pct):
    """Nearest-rank percentile: the smallest sample with at least pct %
    of the samples at or below it."""
    s = sorted(values)
    rank = max(1, -(-len(s) * pct // 100))  # ceil
    return s[int(rank) - 1]


def tail(values):
    """The highest percentile on TAIL_LADDER with at least
    TAIL_MIN_BEYOND samples strictly above its nearest-rank position.
    Returns (percentile, value, samples_beyond); with too few samples
    it falls back to the median and reports how many lie beyond it."""
    n = len(values)
    if n == 0:
        return (None, 0.0, 0)
    for pct in TAIL_LADDER:
        rank = int(max(1, -(-n * pct // 100)))
        if n - rank >= TAIL_MIN_BEYOND:
            return (pct, percentile(values, pct), n - rank)
    rank = int(max(1, -(-n * 50 // 100)))
    return (50.0, percentile(values, 50.0), n - rank)


def growth(values):
    """Median of the last tenth over the median of the first tenth, in
    order of arrival. Each tenth holds at least one sample. Returns
    (ratio, first_tenth_median, last_tenth_median); (0, 0, 0) when there
    are fewer than two samples."""
    n = len(values)
    if n < 2:
        return (0.0, 0.0, 0.0)
    k = max(1, n // 10)
    first = median(values[:k])
    last = median(values[-k:])
    return (last / first if first > 0 else 0.0, first, last)


"""Percentiles as the benchmark reports them."""
import math
import statistics

# Candidate tail percentiles, lowest first.
LADDER = (50, 75, 90, 95, 99, 99.9)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def highest_supported(n, min_beyond=10, ladder=LADDER):
    """The highest percentile of `ladder` that keeps at least `min_beyond`
    samples beyond it, or None when even the median does not."""
    ok = [p for p in ladder if beyond(n, p) >= min_beyond]
    return ok[-1] if ok else None


def median_of_parts(values, parts, p):
    """Median over `parts` consecutive, equal slices of `values` of each
    slice's p-th percentile."""
    n = len(values)
    cuts = [round(k * n / parts) for k in range(parts + 1)]
    return median([percentile(values[a:b], p) for a, b in zip(cuts, cuts[1:])])


def median(values):
    return statistics.median(values)

"""Percentiles that refuse to extrapolate."""

import math

TAIL_MIN_BEYOND = 10
TAILS = (0.99, 0.95, 0.9, 0.75)


def percentile(xs, p):
    """Nearest-rank p-quantile of `xs`, or None unless at least ten
    samples lie beyond it."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(p * n))
    if n - rank < TAIL_MIN_BEYOND:
        return None
    return sorted(xs)[rank - 1]


def tail(xs):
    """(p, value) for the highest of TAILS that `percentile` reports,
    or None when the sample is too small for any of them."""
    for p in TAILS:
        v = percentile(xs, p)
        if v is not None:
            return p, v
    return None

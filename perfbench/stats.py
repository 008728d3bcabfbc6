"""Latency summaries: Harrell-Davis percentile estimates and the tail rule."""

from __future__ import annotations

import numpy as np

#: Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: A tail percentile needs at least this many samples beyond it.
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """Highest percentile of ``TAIL_LADDER`` with at least ``MIN_BEYOND``
    of ``n`` samples beyond it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) >= MIN_BEYOND * 100.0 - 1e-6:
            return p
    return None


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of percentile ``p``: a weighted average of
    all order statistics, with Beta((n+1)q, (n+1)(1-q)) weights, q = p/100.
    For the few samples one run gives it varies much less from run to run
    than the single order statistic a plain percentile picks."""
    if not values:
        raise ValueError("no samples")
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    q = p / 100.0
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = np.linspace(0.0, 1.0, 20_001)
    inner = grid[1:-1]
    pdf = np.zeros_like(grid)
    pdf[1:-1] = np.exp((a - 1) * np.log(inner) + (b - 1) * np.log1p(-inner))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ xs)

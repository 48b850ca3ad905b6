"""Order statistics used by the benchmark and its steadiness check."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(p / 100 * len(ordered))
    return ordered[rank - 1]


def harrell_davis(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-th percentile: a weighted mean of
    every order statistic, the weights being a Beta(p(n+1), (1-p)(n+1))
    distribution's mass on each rank's interval ((i-1)/n, i/n]. Unlike
    the nearest rank it does not jump when two neighbouring samples of a
    small sample trade places, so it moves less between runs."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    ordered = sorted(values)
    n = len(ordered)
    a, b = p / 100 * (n + 1), (1 - p / 100) * (n + 1)
    cdf = [_beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(ordered))


def _beta_cdf(x: float, a: float, b: float) -> float:
    """Regularised incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz), on the side where it converges fast."""
    if x <= 0:
        return 0.0
    if x >= 1:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - _beta_cdf(1 - x, b, a)
    log_front = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                 + a * math.log(x) + b * math.log1p(-x))
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            f *= c * d
        if abs(c * d - 1.0) < 1e-14:
            break
    return math.exp(log_front) * f / a


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - math.ceil(p / 100 * n)


def highest_supported_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest of the usual reporting percentiles that keeps at least
    min_beyond samples above it; None when even the median does not."""
    for p in (99.9, 99, 95, 90, 75, 50):
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles and the interquartile distance as a share of the
    median (Python's exclusive-method quartiles)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else math.inf,
    }

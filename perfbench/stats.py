"""Sample statistics shared by the benchmark and the comparison tool."""

from __future__ import annotations

import statistics

#: candidate tail percentiles, highest first
PERCENTILES = (99, 95, 90, 75, 50)
#: samples that must lie beyond a reported percentile
MIN_BEYOND = 10


def supported_percentile(n: int) -> int | None:
    """Highest percentile with at least ``MIN_BEYOND`` samples beyond
    it (p90 needs 100 samples, p75 40, the median 20); ``None`` when
    even the median is not supported."""
    for p in PERCENTILES:
        if n * (100 - p) >= MIN_BEYOND * 100:
            return p
    return None


def percentile(values, p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def class_medians(samples) -> dict[str, float]:
    """Median of each class's values, from ``(class, value)`` pairs."""
    by_cls: dict[str, list[float]] = {}
    for cls, v in samples:
        by_cls.setdefault(cls, []).append(v)
    return {c: statistics.median(v) for c, v in by_cls.items()}


def mix_latency(samples) -> tuple[float, float]:
    """(geometric mean, requests per unit time) of a request mix from
    ``(class, latency)`` pairs. Each class counts once, by its median,
    so a run that fits more requests of one class in its time, or
    meets one slow outlier, keeps the same mix. The rate is that of a
    closed loop sending one request of every class in turn."""
    med = class_medians(samples)
    return statistics.geometric_mean(med.values()), len(med) / sum(med.values())

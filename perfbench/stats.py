"""Percentiles and tail-sample bookkeeping for the benchmark's timings."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> float:
    """Linear-interpolated q-th percentile (0 <= q <= 100), the
    'linear' method of numpy.percentile."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest whole percentile q for which at least ten of `n` samples
    lie strictly above percentile(values, q), or None when n is too
    small for any."""
    for q in range(99, 0, -1):
        if n - 1 - math.floor((n - 1) * q / 100.0) >= 10:
            return float(q)
    return None


def weighted_median_mix(samples: dict[str, list[float]], weights: dict[str, float]) -> float:
    """Mix-weighted mean of per-kind medians: the expected latency of
    one request drawn from the mix, insensitive to which kinds happened
    to land in a short run's tail."""
    total = sum(weights[k] for k in weights if samples.get(k))
    if total <= 0:
        raise ValueError("no samples for any weighted kind")
    return sum(weights[k] * statistics.median(samples[k])
               for k in weights if samples.get(k)) / total

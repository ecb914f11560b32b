"""Percentiles that say how many samples they rest on."""

from __future__ import annotations

import math

# A p90 rests on at least 100 samples (10 beyond it); below that only
# medians and whole-window rates are declared.
MIN_SAMPLES = {50: 1, 90: 100}


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of a non-empty sample,
    as numpy's default method gives it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n: int, q: int) -> bool:
    """Whether n samples are enough to report the q-th percentile."""
    return n >= MIN_SAMPLES[q]

"""Summary statistics used by the report."""

from __future__ import annotations

import math
import statistics

# a tail percentile is reported only with at least this many samples beyond it
MIN_TAIL_SAMPLES = 10


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def tail_ok(n: int, pct: float) -> bool:
    """True when ``n`` samples leave >= MIN_TAIL_SAMPLES beyond ``pct``."""
    return n * (100.0 - pct) / 100.0 >= MIN_TAIL_SAMPLES


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile; raises when the tail is under-sampled."""
    if not tail_ok(len(values), pct):
        raise ValueError(
            f"p{pct:g} needs {MIN_TAIL_SAMPLES} samples beyond it; have {len(values)} samples"
        )
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]

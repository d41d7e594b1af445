"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``values``.

    Raises ``ValueError`` unless at least ten samples lie strictly above
    the returned rank: a tail percentile resting on fewer is one or two
    unlucky samples, not a property of the system.
    """
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100): {q}")
    n = len(values)
    rank = max(1, math.ceil(q / 100 * n))
    if n - rank < 10:
        raise ValueError(
            f"p{q:g} needs at least 10 samples beyond it; "
            f"{n} samples leave {n - rank}"
        )
    return sorted(values)[rank - 1]


def min_samples(q: float) -> int:
    """Fewest samples for which :func:`percentile` accepts ``q``."""
    n = 1
    while n - max(1, math.ceil(q / 100 * n)) < 10:
        n += 1
    return n


def median(values: list[float]) -> float:
    return statistics.median(values)


def describe(values: list[float], unit: str) -> str:
    """Sample count, median and the highest of p90/p99 the sample
    supports, as one line for the run's log."""
    if not values:
        return "n=0"
    out = f"n={len(values)} p50={median(values):.1f}{unit}"
    for q in (99, 90):
        if len(values) >= min_samples(q):
            return f"{out} p{q}={percentile(values, q):.1f}{unit}"
    return f"{out} (no tail percentile: p90 needs {min_samples(90)} samples)"

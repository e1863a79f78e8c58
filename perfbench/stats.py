"""Summary statistics shared by the worker and the steadiness mode."""

from __future__ import annotations

import math
import statistics

#: A tail percentile needs at least this many samples above it.
TAIL_MIN_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, int, int]:
    """Highest integer percentile (50..99) with at least
    ``TAIL_MIN_BEYOND`` samples beyond it, by nearest rank.

    Returns ``(value, percentile, samples_beyond)``. Raises ``ValueError``
    when there are too few samples for even the median to qualify, so a
    workload can never silently report its median as its tail."""
    n = len(samples)
    ordered = sorted(samples)
    for pct in range(99, 49, -1):
        rank = math.ceil(pct * n / 100)
        beyond = n - rank
        if rank >= 1 and beyond >= TAIL_MIN_BEYOND:
            return ordered[rank - 1], pct, beyond
    raise ValueError(
        f"{n} samples: a tail needs at least {2 * TAIL_MIN_BEYOND}"
    )


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """``(median, q1, q3, (q3 - q1) / median)`` as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3, (q3 - q1) / q2 if q2 else math.inf


def quarters(samples: list[float]) -> tuple[float, float]:
    """Medians of the first and last quarter of a time-ordered series —
    a trend between them means the measured phase was not yet steady."""
    k = max(1, len(samples) // 4)
    return statistics.median(samples[:k]), statistics.median(samples[-k:])

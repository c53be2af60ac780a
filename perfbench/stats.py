"""Sample statistics and failure accounting for the benchmark.

Pure Python: no Spark, so the unit tests import it directly.
"""

from __future__ import annotations

import math

#: a tail percentile is reported only when at least this many samples
#: lie beyond it (fewer make the tail one or two unlucky samples)
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default rule)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` sorted samples sit at ranks strictly above the
    interpolation position of percentile ``p`` (see ``percentile``)."""
    if n <= 0:
        return 0
    return (n - 1) - math.floor((n - 1) * p / 100.0)


def tail_percentile(
    samples: list[float], p: float, min_beyond: int = MIN_BEYOND
) -> float | None:
    """Percentile ``p`` of ``samples``, or None when fewer than
    ``min_beyond`` samples lie beyond it."""
    if samples_beyond(len(samples), p) < min_beyond:
        return None
    return percentile(samples, p)


class Tally:
    """Attempted / failed operation counts. A failed operation is one
    that raised or whose output did not match its reference."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, message: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.messages) < 20:
            self.messages.append(message)

    def check(self, condition: bool, message: str) -> bool:
        """Count one operation; failed when ``condition`` is false."""
        if condition:
            self.ok()
        else:
            self.fail(message)
        return condition

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

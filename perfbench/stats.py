"""Summary statistics and failure accounting for the benchmark.

Kept free of Spark imports so the rules can be tested on their own.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest of p50/p90/p99/p99.9 that still leaves at least
    ``min_beyond`` samples above it in a sample of ``n``; ``None`` when not
    even the median qualifies."""
    best = None
    for p in (0.5, 0.9, 0.99, 0.999):
        if round(n * (1.0 - p), 6) >= min_beyond:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in [0, 1]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass(frozen=True)
class Summary:
    n: int
    median: float
    q1: float
    q3: float
    tail_p: float | None
    tail: float | None


def summarize(values: list[float]) -> Summary:
    """Median, quartiles and the highest percentile the sample supports."""
    if not values:
        raise ValueError("summary of an empty sample")
    tp = tail_percentile(len(values))
    return Summary(
        n=len(values),
        median=statistics.median(values),
        q1=percentile(values, 0.25),
        q3=percentile(values, 0.75),
        tail_p=tp,
        tail=percentile(values, tp) if tp is not None else None,
    )


@dataclass
class Outcomes:
    """Ops attempted against ops that failed: an exception, a wrong result
    or a missed quality gate all count, and none is ever dropped."""

    attempted: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, op: str, reason: str) -> None:
        self.attempted += 1
        self.failures.append((op, reason))

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

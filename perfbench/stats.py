"""Summary statistics and open-loop scheduling used by the benchmark.

Timings are reported as a median plus the highest percentile that keeps at
least ten samples beyond it; the sample count and the percentile chosen go
into the detail line next to the value.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

#: samples that must lie beyond a reported tail percentile
TAIL_BEYOND = 10


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile with at least `beyond` samples above it.

    Returns `(value, percentile)`: the value is the `beyond+1`-th largest
    sample, and the percentile is its rank under linear interpolation
    (rank `q * (n - 1)`), so exactly `beyond` samples are above it when
    there are no ties.  None when there are too few samples."""
    n = len(values)
    if n <= beyond:
        return None
    s = sorted(values)
    k = n - 1 - beyond
    pct = 100.0 * k / (n - 1) if n > 1 else 100.0
    return s[k], pct


def quartile_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with quartiles
    from `statistics.quantiles(values, n=4)`."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


@dataclass(frozen=True)
class Schedule:
    """Open-loop due times: event `i` is due at `start + i / rate`."""

    start: float
    rate: float

    def due(self, i: int) -> float:
        return self.start + i / self.rate

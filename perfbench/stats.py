"""Summary statistics for the benchmark: pooling, the tail percentile
and pass-over-pass drift."""

from __future__ import annotations

import math
import statistics

#: the tail is the highest percentile with at least this many samples
#: strictly above it
TAIL_BEYOND = 10
#: fewest pooled samples for which that tail lies above the median
MIN_SAMPLES = 2 * TAIL_BEYOND + 2


def pool(passes: list[dict[str, float]]) -> list[float]:
    """Every query time of every pass, as one list."""
    return [t for p in passes for t in p.values()]


def nearest_rank(sorted_xs: list[float], pct: float) -> float:
    """The nearest-rank percentile of an ascending list."""
    rank = max(1, math.ceil(pct / 100 * len(sorted_xs)))
    return sorted_xs[rank - 1]


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, int, int]:
    """(value, percentile, samples beyond) for the highest whole
    percentile from 50 to 99 that has at least `beyond` samples strictly
    greater than it. Raises ValueError if even the 50th has fewer."""
    xs = sorted(samples)
    for pct in range(99, 49, -1):
        v = nearest_rank(xs, pct)
        n_beyond = sum(1 for x in xs if x > v)
        if n_beyond >= beyond:
            return v, pct, n_beyond
    raise ValueError(
        f"{len(xs)} samples leave fewer than {beyond} beyond the median"
    )


def drift(pass_times: list[float]) -> float:
    """Least-squares slope of pass time against pass index, as a share
    of the median pass per pass (0.05 = each pass 5% slower than the
    last). 0 for fewer than two passes."""
    n = len(pass_times)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(pass_times) / n
    sxx = sum((i - mx) ** 2 for i in range(n))
    sxy = sum((i - mx) * (y - my) for i, y in enumerate(pass_times))
    return sxy / sxx / statistics.median(pass_times)

"""Small statistics helpers shared by the workloads and the tests."""

from __future__ import annotations

import math

#: Percentiles tried, highest first, when choosing a tail percentile.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(samples: list[float], q: float) -> int:
    """How many samples lie strictly above the q-th percentile."""
    cut = percentile(samples, q)
    return sum(1 for s in samples if s > cut)


def tail_percentile(
    samples: list[float], min_beyond: int = 10, ladder=TAIL_LADDER
) -> tuple[float, float, int] | None:
    """The highest percentile of ``ladder`` that keeps at least
    ``min_beyond`` samples beyond it, as (q, value, n_beyond); None when
    even the lowest rung has fewer."""
    for q in ladder:
        n = beyond(samples, q)
        if n >= min_beyond:
            return q, percentile(samples, q), n
    return None


def geomean(samples: list[float]) -> float:
    if not samples or min(samples) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(s) for s in samples) / len(samples))


def error_rate(attempted: int, failed: int) -> float:
    """failed / attempted; a run that attempted nothing is an error."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


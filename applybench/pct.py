"""Percentile and spread rules used by every metric of the benchmark."""

from __future__ import annotations

# percentiles a timing may be reported at, lowest first
LADDER = (50, 90, 99, 99.9)


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of percentile ``q`` among ``n`` samples, in
    integer arithmetic (q in thousandths) so 99.9 of 10000 is 9990."""
    return max(1, -(-round(q * 1000) * n // 100000))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    return xs[_rank(len(xs), q) - 1]


def beyond(n: int, q: float) -> int:
    """Samples strictly beyond the nearest-rank ``q`` percentile of ``n``."""
    return n - _rank(n, q)


def highest_reportable(n: int, need: int = 10):
    """Highest percentile on ``LADDER`` above the median with at least
    ``need`` samples beyond it, or None (then only the median is
    meaningful)."""
    best = None
    for q in LADDER[1:]:
        if beyond(n, q) >= need:
            best = q
    return best

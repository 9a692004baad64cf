"""Summary statistics of the benchmark's timing samples."""

from __future__ import annotations

#: A tail percentile is reported only with at least this many samples
#: beyond it.
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile of ``samples`` with at least ``TAIL_BEYOND``
    samples beyond it, as ``(value, percentile)``, or ``None`` when that
    percentile would not lie above the median (``2 * TAIL_BEYOND`` samples
    or fewer), so that no tail can be measured.

    Percentiles use the nearest-rank definition: the k-th smallest of n
    samples (1-based) is the 100*k/n-th percentile and has n-k samples
    beyond it.
    """
    n = len(samples)
    if n <= 2 * TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND  # 1-based rank
    return sorted(samples)[k - 1], 100.0 * k / n

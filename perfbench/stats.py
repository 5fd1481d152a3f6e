"""Summary statistics for per-operation latency samples."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> dict | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it: the ``beyond + 1``-th largest value. Returns its value, the
    percentile it sits at (the share of samples at or below it) and the
    sample count, or None when there are too few samples for the rule."""
    n = len(samples)
    if n <= beyond:
        return None
    ordered = sorted(samples)
    return {
        "value": ordered[n - beyond - 1],
        "percentile": round(100.0 * (n - beyond) / n, 2),
        "n": n,
    }


def median(samples: list[float]) -> float | None:
    return statistics.median(samples) if samples else None


def summarize(samples: list[float]) -> dict:
    """Median, tail and count of one op class's latencies (ms)."""
    return {
        "n": len(samples),
        "p50_ms": median(samples),
        "tail": tail(samples),
        "samples_ms": [round(x, 1) for x in samples],
    }

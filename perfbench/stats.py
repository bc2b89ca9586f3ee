"""Percentile math shared by the workloads and the tests."""

from __future__ import annotations

import statistics
from typing import Optional


def percentile(samples: list[float], q: int) -> float:
    """The ``q``-th percentile (1..99) of ``samples``, interpolated
    between the nearest ranks (``statistics.quantiles``' inclusive rule)."""
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


def quartile_drift(samples: list[float]) -> Optional[float]:
    """Relative change from the median of the first quarter of the timed
    samples to the median of the last quarter (positive = got slower).
    Below four samples the quarters shrink to the first and the last
    sample; a single sample has no drift (``None``).

    A steady run reads near 0; a run still warming up reads negative."""
    if len(samples) < 2:
        return None
    quarter = max(1, len(samples) // 4)
    first = statistics.median(samples[:quarter])
    last = statistics.median(samples[-quarter:])
    return (last - first) / first


def summary(samples: list[float]) -> dict:
    """Median, the highest percentile with at least ten samples beyond
    it (absent below 20 samples), the sample count and the drift."""
    out = {"p50": statistics.median(samples), "n": len(samples)}
    for q in (99, 95, 90):
        if len(samples) * (100 - q) / 100.0 >= 10:
            out[f"p{q}"] = percentile(samples, q)
            break
    out["drift"] = quartile_drift(samples)
    return out

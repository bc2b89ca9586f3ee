"""Output checks: each returns an error string, or ``None`` when the
program's answer matches the generator's ground truth."""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
import pyarrow as pa

# sums of a few thousand doubles in another order differ in the last bits
REL_TOL = 1e-9


def _close(a: float, b: float, scale: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL * max(scale, 1.0))


def check_data(table: pa.Table, expected: np.ndarray) -> Optional[str]:
    """``get_data``: row count and value sum equal the ground truth."""
    if table.num_rows != len(expected):
        return f"get_data rows {table.num_rows} != {len(expected)}"
    got = float(np.sum(table.column("value").to_numpy())) if len(expected) else 0.0
    want = float(np.sum(expected))
    if not _close(got, want, float(np.abs(expected).sum())):
        return f"get_data value sum {got!r} != {want!r}"
    return None


def check_plot(
    table: pa.Table, raw_ts_us: np.ndarray, raw_values: np.ndarray, interval_count: int
) -> Optional[str]:
    """``get_plot_data``: every point is a raw point of the window, and at
    most four points (first, min, max, last) come out of each interval."""
    if table.num_rows > 4 * interval_count:
        return f"plot returned {table.num_rows} > {4 * interval_count} points"
    if table.num_rows == 0 and len(raw_values):
        return "plot returned no points for a non-empty window"
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    values = table.column("value").to_numpy()
    pos = np.searchsorted(raw_ts_us, ts)
    if (pos >= len(raw_ts_us)).any():
        return "plot point outside the requested window"
    if not (np.array_equal(raw_ts_us[pos], ts) and np.array_equal(raw_values[pos], values)):
        return "plot point that is not a raw point"
    return None


def check_search(results: list[dict], names: list[str]) -> Optional[str]:
    """``search``: the whole series population, each series once."""
    got = sorted(r.get("tags", {}).get("series name", "") for r in results)
    if got != sorted(names):
        return f"search returned {len(got)} series, expected {len(names)}"
    return None


def check_sql(table: pa.Table, expected: np.ndarray) -> Optional[str]:
    """``sql``: ``count(*)`` and ``sum(value)`` of one series window."""
    row = table.to_pylist()
    if len(row) != 1:
        return f"sql returned {len(row)} rows"
    n, s = row[0]["n"], row[0]["s"]
    if n != len(expected):
        return f"sql count {n} != {len(expected)}"
    want = float(np.sum(expected))
    if not _close(float(s or 0.0), want, float(np.abs(expected).sum())):
        return f"sql sum {s!r} != {want!r}"
    return None


def check_count(name: str, got: int, expected: int) -> Optional[str]:
    """``analytics``: the query's row count equals its oracle's."""
    if got != expected:
        return f"{name}: {got} rows, oracle says {expected}"
    return None

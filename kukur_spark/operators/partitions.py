"""Timestamp-partition pruning: one predicate for a time range.

Parity target: reference ``kukur/source/delta/delta_lake.py:298-356`` —
tables partitioned by YEAR/MONTH/DAY/HOUR columns cannot be pruned by a
raw ``ts`` range filter (the optimizer doesn't know the partition columns
derive from ts), so the time range is *enumerated* into explicit
partition-value predicates.  Both config forms feed the one rule here:
``[[source.<n>.partitions]]`` entries with ``origin = "timestamp"``, and
``timestamp_partition_columns = ["year", "month", …]``, read as such
entries on those columns.  The predicate lands in the scan's
``PartitionFilters`` and skips whole directories at any scale.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from functools import reduce
from typing import Dict, List, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kukur_spark.schema import literal_col

# enumeration caps (reference delta_lake.py:298-356): months only when the
# range spans ≤ 1 year, days ≤ 31 days, hours ≤ 24 hours
CAPS = {
    "month": timedelta(days=366),
    "day": timedelta(days=31),
    "hour": timedelta(hours=24),
}
_RESOLUTIONS = ("year", "month", "day", "hour")


def _truncate(value: datetime, resolution: str) -> datetime:
    if resolution == "year":
        return value.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0)
    if resolution == "month":
        return value.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    if resolution == "day":
        return value.replace(hour=0, minute=0, second=0, microsecond=0)
    return value.replace(minute=0, second=0, microsecond=0)


def _next_boundary(value: datetime, resolution: str) -> datetime:
    if resolution == "year":
        return value.replace(year=value.year + 1)
    if resolution == "month":
        if value.month == 12:
            return value.replace(year=value.year + 1, month=1)
        return value.replace(month=value.month + 1)
    if resolution == "day":
        return value + timedelta(days=1)
    return value + timedelta(hours=1)


def _value(moment: datetime, resolution: str, entry: Dict):
    """The partition value of the period starting at ``moment``: the
    entry's strftime ``format``, else ``%Y`` for YEAR and the bare number
    otherwise; an int for an integral partition column."""
    fmt = entry.get("format")
    if fmt is not None:
        text = moment.strftime(fmt)
    elif resolution == "year":
        text = moment.strftime("%Y")
    else:
        text = str(getattr(moment, resolution))
    return int(text) if isinstance(entry.get("type"), T.IntegralType) else text


def partition_predicate(
    start: datetime, end: datetime, entries: List[Dict]
) -> Optional[Column]:
    """The partitions the half-open ``[start, end)`` range touches, as one
    predicate; ``None`` when no entry can prune the range.

    ``entries`` are timestamp-origin partition entries: ``key`` (YEAR,
    MONTH, DAY or HOUR, any case), ``column`` (default: the key), an
    optional strftime ``format`` and an optional ``type``, the column's
    Spark type.  An entry whose cap the span exceeds is left out: its
    pruning is skipped, never allowed to drop an in-range partition (the
    reference instead clips the range at the cap, delta_lake.py:339-343).
    The cursor walks exact calendar boundaries (truncate → next boundary)
    at the finest remaining resolution, so an unaligned range never skips
    its final partition.  Each boundary gives one conjunction
    ``column = value`` over the remaining entries, each value rendered
    from the boundary truncated to the entry's own resolution; the
    conjunctions are ORed.  When only YEAR entries remain, each column
    gets one IN list of its values instead.
    """
    from kukur_spark.timeutil import as_utc

    start, end = as_utc(start), as_utc(end)
    span = end - start
    kept = []
    for entry in entries:
        resolution = entry["key"].lower()
        if resolution not in CAPS or span <= CAPS[resolution]:
            kept.append((resolution, entry.get("column") or entry["key"], entry))
    if not kept:
        return None
    finest = max((r for r, _, _ in kept), key=_RESOLUTIONS.index)
    clauses: Dict[tuple, None] = {}  # insertion-ordered set
    cursor = _truncate(start, finest)
    while cursor < end:
        clause = tuple(
            _value(_truncate(cursor, r), r, entry) for r, _, entry in kept
        )
        clauses[clause] = None
        try:
            cursor = _next_boundary(cursor, finest)
        except (ValueError, OverflowError):  # next boundary past datetime.max
            break
    if not clauses:  # empty range: the ts filter already keeps nothing
        return None
    columns = [literal_col(column) for _, column, _ in kept]
    if finest == "year":
        # every value derives from the year alone: an IN list per column
        # stays one node deep however many years the range spans (an OR
        # per year overflows the JVM stack on a year 1 – 9999 range)
        return reduce(
            Column.__and__,
            [
                column.isin(list(dict.fromkeys(c[i] for c in clauses)))
                for i, column in enumerate(columns)
            ],
        )
    return reduce(
        Column.__or__,
        [
            reduce(
                Column.__and__,
                [column == F.lit(v) for column, v in zip(columns, clause)],
            )
            for clause in clauses
        ],
    )

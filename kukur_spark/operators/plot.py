"""Plot downsampling: bucketed min/max/first/last aggregation.

Parity-plus: the reference only *delegates* plot queries to sources that
support them server-side (PI PlotData) and falls back to raw data otherwise
(kukur/source/__init__.py:250-279, kukur/app.py:56-69). Here every source
gets a real M4/W2 implementation: split ``[start, end)`` into
``interval_count`` buckets and keep the significant points per bucket.

The bucket id is integer arithmetic on ``unix_micros`` — a single map-side
projection — and the aggregation is one hash aggregate (partial + final), so
the plan is scan → project → partial agg → shuffle(bucket) → final agg. At
100 TB the shuffle carries at most ``interval_count`` groups per series —
negligible — and the scan keeps predicate pushdown on ts.
"""

from __future__ import annotations

from datetime import datetime
from typing import Optional

from pyspark.sql import DataFrame

from kukur_spark.schema import TS_COLUMN, VALUE_COLUMN

BUCKET_COLUMN = "bucket"


def plot_buckets(
    df: DataFrame,
    start: datetime,
    end: datetime,
    interval_count: int = 200,
    group_columns: Optional[list[str]] = None,
) -> DataFrame:
    """Per-bucket stats: min/max/first/last value with their timestamps.

    Returns ``[group…, bucket, bucket_start, min_value, max_value,
    first_value, last_value, ts_min, ts_max, ts_first, ts_last, n_points]``.
    """
    from kukur_spark.timeutil import epoch_us as _epoch_us

    group_columns = group_columns or []
    start_us = _epoch_us(start)
    end_us = _epoch_us(end)
    span = max(end_us - start_us, 1)
    n = int(interval_count)
    # One parameterized spark.sql call (the Column-object chain cost one
    # py4j round trip + JVM analysis pass per op; the single statement
    # resolves to the identical physical plan — plans/r11 +
    # scripts/plan_diff.py).  Out-of-window rows would clamp into the
    # edge buckets (or produce negative bucket ids) — the WHERE restricts
    # to the half-open window first.  Struct-ordered argmin/argmax keep
    # determinism under value ties (earliest ts among min-value rows,
    # latest ts among max-value rows).
    return df.sparkSession.sql(
        _bucket_stats_sql(start_us, end_us, span, n, group_columns), df=df
    )


def _bucket_stats_sql(
    start_us: int, end_us: int, span: int, n: int, group_columns: list[str]
) -> str:
    """The bucket-stats statement text, shared by :func:`plot_buckets`
    and :func:`plot_downsample` (which embeds it as a CTE).  The inner
    projection names only the columns the aggregate reads, so an input
    that already carries a ``bucket`` column does not collide."""
    gsel = "".join(f"`{c}`, " for c in group_columns)
    ts_win = f"unix_micros(CAST(`{TS_COLUMN}` AS TIMESTAMP))"
    gby = gsel + f"`{BUCKET_COLUMN}`"
    return f"""
SELECT *,
  timestamp_micros({start_us} + CAST(`{BUCKET_COLUMN}` * {span}
                   / {n} AS BIGINT)) AS bucket_start
FROM (
  SELECT {gsel}`{BUCKET_COLUMN}`,
    MIN(`{VALUE_COLUMN}`) AS min_value,
    MAX(`{VALUE_COLUMN}`) AS max_value,
    MIN(struct(`{TS_COLUMN}` AS t, `{VALUE_COLUMN}` AS v)).v
      AS first_value,
    MAX(struct(`{TS_COLUMN}` AS t, `{VALUE_COLUMN}` AS v)).v
      AS last_value,
    MIN(struct(`{VALUE_COLUMN}` AS v, `{TS_COLUMN}` AS t)).t AS ts_min,
    MAX(struct(`{VALUE_COLUMN}` AS v, `{TS_COLUMN}` AS t)).t AS ts_max,
    MIN(`{TS_COLUMN}`) AS ts_first,
    MAX(`{TS_COLUMN}`) AS ts_last,
    COUNT(1) AS n_points
  FROM (
    SELECT {gsel}`{TS_COLUMN}`, `{VALUE_COLUMN}`,
      LEAST(CAST(FLOOR(((unix_micros(`{TS_COLUMN}`) - {start_us}) * {n})
                       / {span}) AS BIGINT), {n - 1}) AS `{BUCKET_COLUMN}`
    FROM {{df}}
    WHERE {ts_win} >= {start_us} AND {ts_win} < {end_us}
  )
  GROUP BY {gby}
)
"""


def plot_downsample(
    df: DataFrame,
    start: datetime,
    end: datetime,
    interval_count: int = 200,
    group_columns: Optional[list[str]] = None,
) -> DataFrame:
    """Reduced series with the canonical (…, ts, value) schema.

    Keeps the first, min, max and last point of every bucket (the points a
    line plot needs to render the envelope faithfully), deduplicated and
    time-ordered — the shape the PI PlotData endpoint returns
    (kukur/source/piwebapi_da/piwebapi_da.py:343-369).
    """
    from kukur_spark.timeutil import epoch_us

    group_columns = group_columns or []
    start_us = epoch_us(start)
    end_us = epoch_us(end)
    span = max(end_us - start_us, 1)
    n = int(interval_count)
    gsel = "".join(f"`{c}`, " for c in group_columns)
    # [first, min, max, last]; a point whose ts an earlier one already
    # has becomes NULL, so the first point per distinct ts is kept
    points = [
        ("ts_first", "first_value"),
        ("ts_min", "min_value"),
        ("ts_max", "max_value"),
        ("ts_last", "last_value"),
    ]
    pts = []
    for i, (t, v) in enumerate(points):
        point = f"struct({t} AS `{TS_COLUMN}`, {v} AS `{VALUE_COLUMN}`)"
        earlier = ", ".join(e for e, _ in points[:i])
        pts.append(f"IF({t} IN ({earlier}), NULL, {point})" if earlier else point)
    # One parameterized statement embedding the bucket stats as a CTE.
    # Buckets partition time, so equal timestamps are deduplicated inside
    # each bucket row, with no second shuffle.  Without groups the result
    # has at most 4 × interval_count rows, so it is sorted in one
    # partition instead of range-partitioned (a sampling job and an
    # exchange).
    order = (
        f"ORDER BY {gsel}`{TS_COLUMN}`"
        if group_columns
        else f"SORT BY `{TS_COLUMN}`"
    )
    hint = "" if group_columns else "/*+ COALESCE(1) */ "
    sql = f"""
WITH __stats AS ({_bucket_stats_sql(start_us, end_us, span, n,
                                    group_columns)})
SELECT {hint}{gsel}p.`{TS_COLUMN}` AS `{TS_COLUMN}`,
       p.`{VALUE_COLUMN}` AS `{VALUE_COLUMN}`
FROM (
  SELECT {gsel}explode(array_sort(array({", ".join(pts)}))) AS p
  FROM __stats
)
WHERE p IS NOT NULL
{order}
"""
    return df.sparkSession.sql(sql, df=df)

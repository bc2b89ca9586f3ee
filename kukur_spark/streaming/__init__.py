"""Structured Streaming extensions.

The reference has **no** streaming operators (SURVEY.md §2.9).
``windowed_stats`` is the Spark-native window aggregate: watermarked
tumbling/sliding windows with count/sum/min/max/first/last per series —
the streaming twin of plot buckets.

It composes on any DataFrame.  ``Engine.stream_window`` runs it as one
batch aggregate over a file source's canonical frame, where the watermark
has no effect (no row can be late within one pass); on a streaming
DataFrame (Kafka, file, socket) the watermark finalizes windows and drops
late rows, and tests drive it there with a file source + memory sink +
processAllAvailable.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kukur_spark.schema import TS_COLUMN, VALUE_COLUMN, literal_col


def windowed_stats(
    df: DataFrame,
    window: str = "5 minutes",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
    group_columns: Optional[List[str]] = None,
) -> DataFrame:
    """Watermarked window aggregate: n/sum/min/max/first/last per window."""
    # literal references: a tag column named "site.id" is not a struct field
    group_columns = [literal_col(c) for c in group_columns or []]
    win = (
        F.window(TS_COLUMN, window, slide) if slide else F.window(TS_COLUMN, window)
    )
    return (
        df.withWatermark(TS_COLUMN, watermark)
        .groupBy(win.alias("w"), *group_columns)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(VALUE_COLUMN).alias("sum_value"),
            F.min(VALUE_COLUMN).alias("min_value"),
            F.max(VALUE_COLUMN).alias("max_value"),
            F.min_by(VALUE_COLUMN, F.col(TS_COLUMN)).alias("first_value"),
            F.max_by(VALUE_COLUMN, F.col(TS_COLUMN)).alias("last_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_columns,
            "n",
            "sum_value",
            "min_value",
            "max_value",
            "first_value",
            "last_value",
        )
    )


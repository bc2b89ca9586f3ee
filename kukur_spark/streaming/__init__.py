"""Structured Streaming extensions.

The reference has **no** streaming operators (SURVEY.md §2.9) — these are
the Spark-native extension of the 4 verbs to continuous data:

- ``stream_data``: a streaming ``get_data`` — file-source stream with the
  same tag/range predicates and canonical projection;
- ``windowed_stats``: watermarked tumbling/sliding window aggregates
  (count/sum/min/max) per series — the streaming twin of plot buckets.

Both compose on any streaming DataFrame (Kafka, file, socket); tests
drive them with a file source + memory sink + processAllAvailable.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kukur_spark.schema import TS_COLUMN, VALUE_COLUMN


def stream_data(
    spark,
    path: str,
    schema: T.StructType,
    file_format: str = "parquet",
    tags: Optional[dict] = None,
) -> DataFrame:
    """Streaming scan with the engine's tag-equality predicates (F2)."""
    df = (
        spark.readStream.format(file_format)
        .schema(schema)
        .load(path)
    )
    for key, value in (tags or {}).items():
        df = df.filter(F.col(key) == F.lit(value))
    return df


def windowed_stats(
    df: DataFrame,
    window: str = "5 minutes",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
    group_columns: Optional[List[str]] = None,
) -> DataFrame:
    """Watermarked window aggregate: n/sum/min/max/first/last per window."""
    group_columns = group_columns or []
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


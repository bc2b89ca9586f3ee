"""Canonical data schema + type-promotion rules for chunk/source unification.

Parity target: reference ``kukur/source/__init__.py:462-522`` (concat with
schema unification) and the documented promotion rules (SURVEY.md §1.2):

- value is float64 by default;
- value is **string if any chunk is string**;
- value is **int64 only if every chunk is integer**;
- the quality column is kept if **any** chunk has it (missing chunks get null).

Spark unions are strict, so the promotion decision is made from the input
DataFrame schemas and applied with explicit casts before ``unionByName``.
"""

from __future__ import annotations

from typing import Iterable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TS_COLUMN = "ts"
VALUE_COLUMN = "value"
QUALITY_COLUMN = "quality"

# quality enum: 0 = BAD, 1 = GOOD (reference kukur/source/quality.py:13-17)
QUALITY_BAD = 0
QUALITY_GOOD = 1


def data_schema(
    value_type: T.DataType = T.DoubleType(), with_quality: bool = False
) -> T.StructType:
    """Canonical time-series data schema: ts, value[, quality]."""
    fields = [
        T.StructField(TS_COLUMN, T.TimestampType(), True),
        T.StructField(VALUE_COLUMN, value_type, True),
    ]
    if with_quality:
        fields.append(T.StructField(QUALITY_COLUMN, T.ByteType(), True))
    return T.StructType(fields)


def empty_data_frame(
    spark: SparkSession,
    value_type: T.DataType = T.DoubleType(),
    with_quality: bool = False,
) -> DataFrame:
    """Empty-range shortcut (reference kukur/source/__init__.py:242-243)."""
    return spark.createDataFrame([], data_schema(value_type, with_quality))


def _is_integer(dt: T.DataType) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def _is_string(dt: T.DataType) -> bool:
    return isinstance(dt, (T.StringType, T.VarcharType, T.CharType))


def promote_value_type(value_types: Iterable[T.DataType]) -> T.DataType:
    """Decide the unified value type from per-chunk value types."""
    types = list(value_types)
    if not types:
        return T.DoubleType()
    if any(_is_string(dt) for dt in types):
        return T.StringType()
    if all(_is_integer(dt) for dt in types):
        return T.LongType()
    return T.DoubleType()


def conform(
    df: DataFrame,
    value_type: Optional[T.DataType] = None,
    with_quality: Optional[bool] = None,
) -> DataFrame:
    """Cast a chunk to the canonical schema (ts, value[, quality]).

    Extra columns (tags) are preserved ahead of the canonical ones so that
    multi-series frames stay addressable.
    """
    if value_type is None:
        value_type = df.schema[VALUE_COLUMN].dataType
    if with_quality is None:
        with_quality = QUALITY_COLUMN in df.columns
    tag_cols = [
        c for c in df.columns if c not in (TS_COLUMN, VALUE_COLUMN, QUALITY_COLUMN)
    ]
    cols = [F.col(c) for c in tag_cols]
    cols.append(F.col(TS_COLUMN).cast(T.TimestampType()).alias(TS_COLUMN))
    cols.append(F.col(VALUE_COLUMN).cast(value_type).alias(VALUE_COLUMN))
    if with_quality:
        if QUALITY_COLUMN in df.columns:
            cols.append(F.col(QUALITY_COLUMN).cast(T.ByteType()).alias(QUALITY_COLUMN))
        else:
            cols.append(F.lit(None).cast(T.ByteType()).alias(QUALITY_COLUMN))
    return df.select(cols)


def union_conform(chunks: List[DataFrame]) -> Optional[DataFrame]:
    """Union chunked results under the promotion rules above.

    Equivalent of the reference's ``concat_tables`` + unify
    (kukur/source/__init__.py:462-499) — but lazy: the union is a Spark plan,
    so per-chunk scans stay parallel.
    """
    if not chunks:
        return None
    value_type = promote_value_type(
        chunk.schema[VALUE_COLUMN].dataType for chunk in chunks
    )
    with_quality = any(QUALITY_COLUMN in chunk.columns for chunk in chunks)
    conformed = [conform(c, value_type, with_quality) for c in chunks]
    out = conformed[0]
    for chunk in conformed[1:]:
        out = out.unionByName(chunk)
    return out

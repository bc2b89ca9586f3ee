"""Excel source (reference S19, kukur/source/excel/__init__.py:23-72).

Reads .xlsx with the pure-stdlib SpreadsheetML parser
(``kukur_spark.sources.xlsx``) — no openpyxl gate. The sheet is read
driver-side (Excel files are small by nature: the format caps at ~1M
rows) and enters Spark via ``createDataFrame``; all filtering then runs
as DataFrame predicates. Column typing mirrors the reference's
``_to_pyarrow``: a column keeps its native type when homogeneous and
falls back to per-value ``str()`` otherwise.
"""

from __future__ import annotations

from datetime import datetime
from typing import Any, Dict, Iterator, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kukur_spark.base import SERIES_NAME_TAG, SeriesSearch, SeriesSelector
from kukur_spark.metadata import Metadata
from kukur_spark.schema import TS_COLUMN, VALUE_COLUMN, conform
from kukur_spark.sources.xlsx import list_sheets, read_sheet


def _column_type(values: List[Any]):
    """Spark type + coercion for one column (reference per-column
    fallback-to-string, kukur/source/excel/__init__.py:56-70)."""
    present = [v for v in values if v is not None]
    kinds = {type(v) for v in present}
    if not kinds:
        return T.StringType(), lambda v: v
    if kinds <= {bool}:
        return T.BooleanType(), lambda v: v
    if kinds <= {int, float} and bool not in kinds:
        return T.DoubleType(), lambda v: None if v is None else float(v)
    if kinds <= {datetime}:
        return T.TimestampType(), lambda v: v
    if kinds <= {str}:
        return T.StringType(), lambda v: v
    return T.StringType(), lambda v: None if v is None else str(v)


class ExcelSource:
    def __init__(self, spark: SparkSession, name: str, config: Dict[str, Any]):
        self.spark = spark
        self.name = name
        self.path = config["path"]
        self.sheet = config.get("sheet", 0)
        self.header = bool(config.get("header_row", True))

    def list_sheets(self) -> List[str]:
        return list_sheets(self.path)

    def _frame(self) -> DataFrame:
        rows = read_sheet(self.path, self.sheet)
        if not rows:
            return self.spark.createDataFrame(
                [], f"`{SERIES_NAME_TAG}` string, `{TS_COLUMN}` timestamp, "
                f"`{VALUE_COLUMN}` double",
            )
        if self.header:
            headers = [str(h) for h in rows[0]]
            rows = rows[1:]
        else:
            headers = [SERIES_NAME_TAG, TS_COLUMN, VALUE_COLUMN][
                : len(rows[0])
            ] + [str(i) for i in range(3, len(rows[0]))]
        fields, coercions = [], []
        for index, header in enumerate(headers):
            column = [row[index] for row in rows]
            dtype, coerce = _column_type(column)
            fields.append(T.StructField(header, dtype))
            coercions.append(coerce)
        coerced = [
            tuple(coerce(value) for coerce, value in zip(coercions, row))
            for row in rows
        ]
        return self.spark.createDataFrame(coerced, T.StructType(fields))

    def search(self, search: SeriesSearch) -> Iterator[SeriesSelector]:
        df = self._frame()
        for row in df.select(SERIES_NAME_TAG).distinct().collect():
            yield SeriesSelector(self.name, {SERIES_NAME_TAG: row[0]})

    def get_metadata(self, selector: SeriesSelector) -> Metadata:
        return Metadata(selector)

    def get_data(
        self, selector: SeriesSelector, start: datetime, end: datetime
    ) -> DataFrame:
        df = self._frame()
        name = selector.tags.get(SERIES_NAME_TAG)
        df = df.filter(F.col(SERIES_NAME_TAG) == F.lit(name)).select(
            F.col(TS_COLUMN).cast("timestamp").alias(TS_COLUMN),
            F.col(VALUE_COLUMN).alias(VALUE_COLUMN),
        )
        return conform(
            df.filter(
                (F.col(TS_COLUMN) >= F.lit(start)) & (F.col(TS_COLUMN) < F.lit(end))
            ).orderBy(TS_COLUMN)
        )

"""Spark-SQL source: registered file tables + user SQL.

Parity target: the reference's DataFusion connector
(``kukur/source/datafusion/datafusion.py:81-157``) registers csv / parquet /
delta tables and runs a user-configured SQL query with named parameters.
In the Spark engine that connector is literally "be Spark SQL": register the
configured files as temp views and run ``spark.sql`` — Catalyst pushes the
series and range predicates into the scans.

Config::

    [source.mysrc]
    type = "spark_sql"
    list_query = "SELECT DISTINCT name AS `series name` FROM data"
    data_query = "SELECT ts, value FROM data WHERE name = :tag0 AND ts >= :start AND ts < :end"

    [[source.mysrc.tables]]
    name = "data"
    type = "parquet"     # any kukur_spark.io.read_file format
    path = "/data/x.parquet"
"""

from __future__ import annotations

from datetime import datetime
from typing import Any, Dict, Iterator

from pyspark.sql import DataFrame, SparkSession

from kukur_spark.base import SERIES_NAME_TAG, SeriesSearch, SeriesSelector
from kukur_spark.io import read_file
from kukur_spark.metadata import Metadata
from kukur_spark.schema import TS_COLUMN, conform


class SparkSqlSource:
    def __init__(self, spark: SparkSession, name: str, config: Dict[str, Any]):
        self.spark = spark
        self.name = name
        self.config = config
        self.tag_columns = list(config.get("tag_columns", [SERIES_NAME_TAG]))
        self._registered = False

    def _register(self) -> None:
        if self._registered:
            return
        # user SQL gets the engine's scalar vocabulary (ku_bucket,
        # ku_selector_*, ku_md5_long, …) — SQL-body functions inline
        # into the query plan, no Python boundary
        from kukur_spark.sql_functions import register_sql_functions

        register_sql_functions(self.spark)
        for table in self.config.get("tables", []):
            read_file(
                self.spark,
                table["path"],
                table.get("type", "parquet"),
                header=table.get("header", True),
            ).createOrReplaceTempView(table["name"])
        self._registered = True

    def search(self, search: SeriesSearch) -> Iterator[SeriesSelector]:
        self._register()
        query = self.config.get("list_query")
        if query is None:
            return
        for row in self.spark.sql(query).collect():
            data = row.asDict()
            tags = {
                c: str(data[c]) for c in self.tag_columns if data.get(c) is not None
            }
            selector = SeriesSelector(self.name, tags)
            if search.tags and any(
                tags.get(k) != v for k, v in search.tags.items()
            ):
                continue
            yield selector

    def get_metadata(self, selector: SeriesSelector) -> Metadata:
        return Metadata(selector)

    def get_data(
        self, selector: SeriesSelector, start: datetime, end: datetime
    ) -> DataFrame:
        self._register()
        query = self.config["data_query"]
        df = self.spark.sql(
            query,
            args={
                **{
                    f"tag{i}": selector.tags.get(c, "")
                    for i, c in enumerate(self.tag_columns)
                },
                "start": start,
                "end": end,
            },
        )
        if self.config.get("sort_by_timestamp", True):
            df = df.orderBy(TS_COLUMN)
        return conform(df)

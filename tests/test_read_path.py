"""The one file-read path: one reader per format, one partition rule and
one cached ``get_data`` frame, and literal dotted column names on it."""

from __future__ import annotations

import re
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.orc
import pyarrow.parquet as pq

from kukur_spark.app import Engine
from kukur_spark.base import SeriesSearch, SeriesSelector
from kukur_spark.operators.dedup import _band_candidates
from kukur_spark.sources.file_source import FileSource, FileSourceOptions

UTC = timezone.utc


def utc(*args):
    return datetime(*args, tzinfo=UTC)


def _scan(df):
    """The executed file scan of a collected ``df``: its plan text and
    its ``numPartitions`` metric (partition directories read)."""
    plan = df._jdf.queryExecution().executedPlan()
    scan = plan.collectLeaves().apply(0)
    return plan.toString(), scan.metrics().apply("numPartitions").value()


def test_orc_source_reads_tz_aware_timestamp(spark, tmp_path):
    # Spark's ORC reader cannot parse TIMESTAMP_INSTANT ("timestamp with
    # local time zone"), which pyarrow writes for a tz-aware column
    path = str(tmp_path / "data.orc")
    pyarrow.orc.write_table(
        pa.table(
            {
                "series name": ["a", "a", "b"],
                "ts": pa.array(
                    [utc(2020, 1, 1), utc(2020, 1, 2), utc(2020, 1, 1)],
                    pa.timestamp("us", tz="UTC"),
                ),
                "value": [1.0, 2.0, 3.0],
            }
        ),
        path,
    )
    source = FileSource(
        spark, "o", FileSourceOptions(path=path, file_format="orc")
    )
    rows = source.get_data(
        SeriesSelector.from_name("o", "a"), utc(2020, 1, 1), utc(2020, 2, 1)
    ).collect()
    assert [(r["ts"], r["value"]) for r in rows] == [
        (datetime(2020, 1, 1), 1.0),
        (datetime(2020, 1, 2), 2.0),
    ]


def _write_partitioned(spark, base, tables):
    """One parquet file per partition directory: ``tables`` maps each
    directory under ``base`` to its (location, series, ts, value) rows."""
    for directory, rows in tables.items():
        spark.createDataFrame(
            rows, "location string, `series name` string, ts timestamp, value double"
        ).coalesce(1).write.parquet(str(base / directory))


def test_configured_year_partition_custom_format(spark, tmp_path):
    base = tmp_path / "year"
    _write_partitioned(
        spark,
        base,
        {
            f"partition_year={y % 100}-year": [
                ("Antwerp", "s1", datetime(y, 6, 1), float(y % 100))
            ]
            for y in (2020, 2021, 2022)
        },
    )
    source = FileSource(
        spark,
        "y",
        FileSourceOptions(
            path=str(base),
            file_format="parquet",
            tag_columns=["location", "series name"],
            partitions=[
                {
                    "origin": "timestamp",
                    "key": "YEAR",
                    "column": "partition_year",
                    "format": "%y-year",
                },
                {"origin": "tag", "key": "location"},
            ],
        ),
    )
    data = source.get_data(
        SeriesSelector("y", {"series name": "s1", "location": "Antwerp"}),
        utc(2021, 1, 1),
        utc(2022, 12, 31),
    )
    assert sorted(r["value"] for r in data.collect()) == [21.0, 22.0]
    assert data.columns == ["ts", "value"]
    plan, partitions = _scan(data)
    assert "partition_year" in plan.split("PartitionFilters")[1][:300]
    assert partitions == 2


def test_configured_month_partition_on_string_column(spark, tmp_path):
    base = tmp_path / "month"
    _write_partitioned(
        spark,
        base,
        {
            f"pm=2020-{m:02d}": [("Antwerp", "s1", datetime(2020, m, 15), float(m))]
            for m in (10, 11, 12)
        },
    )
    source = FileSource(
        spark,
        "m",
        FileSourceOptions(
            path=str(base),
            file_format="parquet",
            partitions=[
                {"origin": "timestamp", "key": "MONTH", "column": "pm", "format": "%Y-%m"}
            ],
        ),
    )
    assert str(source.data_frame().schema["pm"].dataType) == "StringType()"
    data = source.get_data(
        SeriesSelector.from_name("m", "s1"), utc(2020, 11, 1), utc(2021, 1, 1)
    )
    assert sorted(r["value"] for r in data.collect()) == [11.0, 12.0]
    plan, partitions = _scan(data)
    assert "pm" in plan.split("PartitionFilters")[1][:300]
    assert partitions == 2


def test_unaligned_day_range_reads_no_other_month_day(spark, tmp_path):
    # Jan 31 → Feb 2 touches (1, 31) and (2, 1); independent IN lists
    # (month IN (1, 2), day IN (31, 1)) would also read Jan 1
    base = tmp_path / "days"
    _write_partitioned(
        spark,
        base,
        {
            f"y=2020/m={m}/d={d}": [("Antwerp", "s1", datetime(2020, m, d, 12), 1.0)]
            for m, d in [(1, 1), (1, 31), (2, 1), (2, 2)]
        },
    )
    source = FileSource(
        spark,
        "d",
        FileSourceOptions(
            path=str(base),
            file_format="parquet",
            partitions=[
                {"origin": "timestamp", "key": key, "column": column}
                for key, column in (("YEAR", "y"), ("MONTH", "m"), ("DAY", "d"))
            ],
        ),
    )
    data = source.get_data(
        SeriesSelector.from_name("d", "s1"), utc(2020, 1, 31), utc(2020, 2, 2)
    )
    assert sorted(r["ts"] for r in data.collect()) == [
        datetime(2020, 1, 31, 12),
        datetime(2020, 2, 1, 12),
    ]
    assert _scan(data)[1] == 2


def test_repeated_partitioned_get_data_reuses_series_frame(
    spark, tmp_path, monkeypatch
):
    base = tmp_path / "hive"
    _write_partitioned(
        spark,
        base,
        {
            f"year=2020/month={m}": [("Antwerp", "s1", datetime(2020, m, 10), float(m))]
            for m in (1, 2, 3)
        },
    )
    source = FileSource(
        spark,
        "h",
        FileSourceOptions(
            path=str(base),
            file_format="parquet",
            timestamp_partition_columns=["year", "month"],
        ),
    )
    builds = []
    build = FileSource._series_frame
    monkeypatch.setattr(
        FileSource,
        "_series_frame",
        lambda self, selector: builds.append(selector) or build(self, selector),
    )
    selector = SeriesSelector.from_name("h", "s1")
    first = source.get_data(selector, utc(2020, 1, 1), utc(2020, 2, 1))
    second = source.get_data(selector, utc(2020, 2, 1), utc(2020, 4, 1))
    assert [r["value"] for r in first.collect()] == [1.0]
    assert sorted(r["value"] for r in second.collect()) == [2.0, 3.0]
    assert len(builds) == 1
    assert _scan(second)[1] == 2


# -- dotted tag and column names on the verb path --------------------------
def _dotted_engine(spark, tmp_path, value_column="value"):
    """A parquet source tagged by ``site.id``; a ``value_column`` other
    than ``value`` is mapped to it."""
    path = tmp_path / "dotted.parquet"
    pq.write_table(
        pa.table(
            {
                "site.id": ["a", "a", "b"],
                "ts": pa.array(
                    [utc(2020, 1, 1), utc(2020, 1, 1, 1), utc(2020, 1, 1)],
                    pa.timestamp("us", tz="UTC"),
                ),
                value_column: [1.0, 2.0, 3.0],
            }
        ),
        str(path),
    )
    source = {"type": "parquet", "path": str(path), "tag_columns": ["site.id"]}
    if value_column != "value":
        source["column_mapping"] = {"value": value_column}
    return Engine({"source": {"src": source}}, spark)


def test_dotted_tag_column_get_data(spark, tmp_path):
    engine = _dotted_engine(spark, tmp_path)
    assert [s.tags for s in engine.search(SeriesSearch("src"))] == [
        {"site.id": "a"},
        {"site.id": "b"},
    ]
    rows = engine.get_data(
        SeriesSelector("src", {"site.id": "a"}), utc(2020, 1, 1), utc(2020, 1, 2)
    ).collect()
    assert [r["value"] for r in rows] == [1.0, 2.0]


def test_dotted_tag_column_get_plot_data(spark, tmp_path):
    engine = _dotted_engine(spark, tmp_path)
    rows = engine.get_plot_data(
        SeriesSelector("src", {"site.id": "b"}),
        utc(2020, 1, 1),
        utc(2020, 1, 2),
        interval_count=2,
    ).collect()
    assert [r["value"] for r in rows] == [3.0]


def test_dotted_tag_column_stream_window(spark, tmp_path):
    engine = _dotted_engine(spark, tmp_path)
    rows = engine.stream_window("src", window="1 day").collect()
    assert sorted((r["site.id"], r["n"], r["sum_value"]) for r in rows) == [
        ("a", 2, 3.0),
        ("b", 1, 3.0),
    ]


def test_column_mapping_from_dotted_raw_column(spark, tmp_path):
    engine = _dotted_engine(spark, tmp_path, value_column="sensor.value")
    rows = engine.get_data(
        SeriesSelector("src", {"site.id": "a"}), utc(2020, 1, 1), utc(2020, 1, 2)
    ).collect()
    assert [r["value"] for r in rows] == [1.0, 2.0]


# -- the LSH skew guard's sample is seeded ---------------------------------
def test_skew_guard_sample_seed_is_fixed(spark):
    banded = spark.createDataFrame(
        [(i, 0, 42) for i in range(300)], "id long, band int, bucket long"
    )

    def sample_arguments():
        # max_bucket 128 → sample rate 0.5; an unknown size bound keeps
        # the guard on
        pairs = _band_candidates(banded, max_bucket=128, stats_bound=None)
        dump = spark._jvm.PythonSQLUtils.explainString(
            pairs._jdf.queryExecution(), "formatted"
        )
        return re.findall(r"\(\d+\) Sample\n.*\nArguments: ([^\n]*)", dump)

    first, second = sample_arguments(), sample_arguments()
    assert first and first == second
    assert first[0].endswith(", 42")

"""Parity tests for the reference's binary-format, GPX and JSON fixtures.

Companion to test_reference_fixtures.py (CSV): read kukur's committed
parquet/feather/arrows/gpx/json test data through our engine and assert
the expectations its own suite pins (tests/source/test_parquet.py:33-110,
test_feather.py, test_gpx.py:9-14, test_json.py:25-67)."""

import os
from datetime import datetime, timezone

import pytest

from kukur_spark.app import Engine
from kukur_spark.base import SeriesSearch, SeriesSelector
from kukur_spark.config import from_toml

REF = "/root/reference/tests/test_data"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference fixtures not available"
)

START = datetime(2020, 1, 1, tzinfo=timezone.utc)
END = datetime(2020, 11, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def engine(tmp_path_factory):
    cfg = tmp_path_factory.mktemp("refcfg2") / "kukur.toml"
    cfg.write_text(
        f"""
[quality_mapping.opc_mapping_strings]
GOOD = ["GoodQuality", "Decent"]

[quality_mapping.opc_mapping_ranges]
GOOD = [[192], [194, 198]]

[source.row_parquet]
type = "parquet"
path = "{REF}/parquet/row.parquet"

[source.row_parquet_quality]
type = "parquet"
path = "{REF}/parquet/row-quality.parquet"
quality_mapping = "opc_mapping_strings"

[source.pivot_parquet]
type = "parquet"
format = "pivot"
path = "{REF}/parquet/pivot.parquet"

[source.dir_parquet]
type = "parquet"
format = "dir"
path = "{REF}/parquet/dir"

[source.row_feather]
type = "feather"
path = "{REF}/feather/row.feather"

[source.row_arrows]
type = "arrows"
path = "{REF}/arrows/row.arrows"

[source.gpx]
type = "gpx"
path = "{REF}/gpx/20240501.gpx"

[source.json]
type = "json"
metadata = "{REF}/json"
"""
    )
    return Engine(from_toml(str(cfg)))


def test_parquet_row(engine):
    # reference test_parquet.py::test_row / ::test_search_row
    rows = engine.get_data(
        SeriesSelector.from_name("row_parquet", "test-tag-1"), START, END
    ).collect()
    assert len(rows) == 5
    assert rows[0]["ts"] == datetime(2020, 1, 1)
    assert rows[0]["value"] == 1.0
    found = {
        s.tags["series name"]
        for s in engine.search(SeriesSearch("row_parquet"))
    }
    assert len(found) == 3 and "test-tag-1" in found


def test_parquet_row_quality(engine):
    # reference ::test_row_quality — string quality mapped via config
    df = engine.get_data(
        SeriesSelector.from_name("row_parquet_quality", "test-tag-1"),
        START,
        END,
    )
    rows = df.collect()
    assert len(rows) == 5
    assert df.columns == ["ts", "value", "quality"]
    assert rows[0]["quality"] == 1


def test_parquet_pivot(engine):
    # reference ::test_pivot — first column ("timestamp") is the ts axis
    rows = engine.get_data(
        SeriesSelector.from_name("pivot_parquet", "test-tag-1"), START, END
    ).collect()
    assert len(rows) == 7
    assert rows[0]["value"] == 1.0
    found = {
        s.tags["series name"]
        for s in engine.search(SeriesSearch("pivot_parquet"))
    }
    assert found == {"test-tag-1", "test-tag-2", "test-tag-5"}


def test_parquet_dir_and_string_series(engine):
    # reference ::test_dir / ::test_dir_string — string-valued series keeps
    # its type through the canonical schema
    rows = engine.get_data(
        SeriesSelector.from_name("dir_parquet", "test-tag-1"), START, END
    ).collect()
    assert len(rows) == 5
    assert rows[0]["value"] == 1.0
    srows = engine.get_data(
        SeriesSelector.from_name("dir_parquet", "test-tag-5"), START, END
    ).collect()
    assert len(srows) == 7
    assert srows[0]["value"] == "A"


def test_feather_row(engine):
    # reference test_feather.py::test_row
    rows = engine.get_data(
        SeriesSelector.from_name("row_feather", "test-tag-1"), START, END
    ).collect()
    assert len(rows) == 5
    assert rows[0]["value"] == 1.0


def test_arrows_row(engine):
    # reference test_arrows.py — IPC stream scan
    rows = engine.get_data(
        SeriesSelector.from_name("row_arrows", "test-tag-1"), START, END
    ).collect()
    assert len(rows) == 5
    assert rows[0]["value"] == 1.0


def test_gpx_point_count(engine):
    # reference test_gpx.py::test_gpx — 2263 track points
    start = datetime(2024, 1, 1, tzinfo=timezone.utc)
    end = datetime(2025, 1, 1, tzinfo=timezone.utc)
    sel = SeriesSelector.from_tags(
        "gpx", {"series name": "20240501"}, "lat"
    )
    rows = engine.get_data(sel, start, end).collect()
    assert len(rows) == 2263


def test_json_metadata(engine):
    # reference test_json.py::test_search_metadata / ::test_metadata
    found = list(engine.search(SeriesSearch("json")))
    assert len(found) == 2
    by_name = {m.series.tags["series name"]: m for m in found}
    assert by_name["test-tag-1"]["description"] == "hello"
    assert by_name["test-tag-1"]["functional lower limit"] == 42
    assert by_name["test-tag-2"]["description"] == "world"


def test_json_traversal_guard(engine):
    # reference ::test_metadata_directory_traversal
    with pytest.raises(ValueError):
        engine.get_metadata(
            SeriesSelector.from_name("json", "../../../test-tag-1")
        )


# ---------------------------------------------------------------------------
# inspect parity (reference tests/inspect/test_filesystem.py)
# ---------------------------------------------------------------------------
def test_inspect_feather_dir(spark):
    from kukur_spark.inspect import inspect_path

    results = inspect_path(f"{REF}/feather/dir")
    assert len(results) == 2
    assert all(r.resource_type == "arrow" for r in results)
    assert results[0].path.endswith("test-tag-1.feather")


def test_inspect_preview_counts(spark):
    # reference ::test_preview_filesystem (47 feather rows),
    # ::test_read_filesystem_ndjson (5), ::test_read_filesystem_orc (47)
    from kukur_spark.inspect import InspectedPath, preview

    feather = InspectedPath(f"{REF}/feather/row.feather", "arrow")
    assert preview(spark, feather).count() == 47
    assert preview(spark, feather, num_rows=10).count() == 10
    ndjson = InspectedPath(f"{REF}/ndjson/inspect.ndjson", "ndjson")
    assert preview(spark, ndjson).count() == 5
    orc = InspectedPath(f"{REF}/orc/row.orc", "orc")
    assert preview(spark, orc).count() == 47


def test_inspect_preview_column_selection(spark):
    # reference ::test_read_filesystem_series_column
    from kukur_spark.inspect import InspectedPath, preview

    feather = InspectedPath(f"{REF}/feather/row.feather", "arrow")
    df = preview(spark, feather, columns=["series name"])
    assert df.columns == ["series name"]
    assert df.count() == 47


def test_inspect_detects_delta_dir(spark):
    # reference ::test_inspect_filesystem_detect_delta_table
    from kukur_spark.inspect import inspect_path

    results = inspect_path(f"{REF}/delta")
    types = {r.resource_type for r in results}
    assert "delta" in types or any(
        os.path.isdir(os.path.join(f"{REF}/delta", d, "_delta_log"))
        for d in os.listdir(f"{REF}/delta")
    ) is False


def test_excel_reference_fixture(spark):
    """The reference's own xlsx fixture through the stdlib reader.

    Reference expectations (tests/source/test_excel.py:12-27): 251 data
    rows with a header row naming ``series name``/``ts``/``value``; one
    extra row when the header is treated as data.
    """
    from kukur_spark.sources.excel import ExcelSource

    path = f"{REF}/excel/data.xlsx"
    src = ExcelSource(spark, "xl", {"path": path})
    df = src._frame()
    assert df.count() == 251
    assert set(df.columns) >= {"series name", "ts", "value"}

    no_header = ExcelSource(
        spark, "xl", {"path": path, "header_row": False}
    )
    assert no_header._frame().count() == 252


# ---------------------------------------------------------------------------
# Delta Lake parity: the reference's own Delta tables through the
# transaction-log replay reader (reference tests/source/test_delta.py)
# ---------------------------------------------------------------------------
DELTA_START = datetime(2020, 1, 1, tzinfo=timezone.utc)
DELTA_END = datetime(2020, 11, 1, tzinfo=timezone.utc)


def _delta_source(spark, name, **kw):
    from kukur_spark.sources.file_source import (
        FileSource,
        FileSourceOptions,
    )

    opts = FileSourceOptions(
        path=f"{REF}/delta/{name}", file_format="delta", **kw
    )
    return FileSource(spark, name, opts)


def test_delta_row_reference_fixture(spark):
    src = _delta_source(
        spark, "delta-row", column_mapping={"series name": "name"}
    )
    sel = SeriesSelector.from_name("delta-row", "test-tag-1")
    rows = src.get_data(sel, DELTA_START, DELTA_END).orderBy("ts").collect()
    assert len(rows) == 5
    assert rows[0].ts == datetime(2020, 1, 1)
    assert rows[0].value == 1.0


def test_delta_row_quality_reference_fixture(spark):
    from kukur_spark.sources.quality import QualityMapper

    src = _delta_source(
        spark,
        "delta-row-quality",
        column_mapping={"series name": "name"},
        quality_mapper=QualityMapper.from_config(
            {"quality_mapping": "opc_mapping_strings"}
        ),
    )
    sel = SeriesSelector.from_name("delta-row-quality", "test-tag-1")
    df = src.get_data(sel, DELTA_START, DELTA_END)
    rows = df.orderBy("ts").collect()
    assert len(rows) == 5
    assert [f.name for f in df.schema] == ["ts", "value", "quality"]
    assert rows[0].quality == 1


def test_delta_unordered_sorts_by_default(spark):
    # reference: delta sources sort by timestamp unless configured off
    # (kukur/source/delta/delta_lake.py:98)
    src = _delta_source(
        spark,
        "delta-unordered",
        column_mapping={"series name": "name"},
        sort_by_timestamp=True,
    )
    sel = SeriesSelector.from_name("delta-unordered", "test-tag-1")
    rows = src.get_data(sel, DELTA_START, DELTA_END).collect()
    assert len(rows) == 5
    ts = [r.ts for r in rows]
    assert ts == sorted(ts)
    assert rows[0].value == 1.0


def test_delta_pivot_reference_fixture(spark):
    src = _delta_source(spark, "delta-pivot", format="pivot")
    sel = SeriesSelector.from_name("delta-pivot", "test-tag-1")
    rows = src.get_data(sel, DELTA_START, DELTA_END).orderBy("ts").collect()
    assert len(rows) == 7
    assert rows[0].ts == datetime(2020, 1, 1)
    assert rows[0].value == 1.0


def test_delta_pivot_string_series(spark):
    src = _delta_source(spark, "delta-pivot", format="pivot")
    sel = SeriesSelector.from_name("delta-pivot", "test-tag-5")
    rows = src.get_data(sel, DELTA_START, DELTA_END).orderBy("ts").collect()
    assert len(rows) == 7
    assert rows[0].value == "A"


def test_delta_row_tags_search(spark):
    src = _delta_source(
        spark,
        "delta-row-tags",
        tag_columns=["location", "plant"],
        field_columns=["value", "product"],
        column_mapping={"ts": "date", "plant": "Plant", "value": "Value"},
    )
    series = list(src.search(SeriesSearch("delta-row-tags")))
    sels = [s for s in series if getattr(s, "tags", None) is not None]
    assert len(sels) == 8
    combos = {(s.tags["location"], s.tags["plant"], s.field) for s in sels}
    assert ("Antwerp", "P1", "value") in combos
    assert ("Antwerp", "P1", "product") in combos


# ---------------------------------------------------------------------------
# Configured-partition parity: the reference's partitioned Delta tables
# (reference tests/source/test_delta.py:151-220)
# ---------------------------------------------------------------------------
def test_delta_name_partition(spark):
    src = _delta_source(
        spark,
        "partitions/name",
        sort_by_timestamp=True,
        partitions=[{"origin": "tag", "key": "series name"}],
    )
    sel = SeriesSelector.from_name("partition-name", "test-tag-1")
    rows = src.get_data(
        sel,
        datetime(2023, 1, 1, tzinfo=timezone.utc),
        datetime(2023, 3, 20, tzinfo=timezone.utc),
    ).collect()
    assert len(rows) == 12


def test_delta_location_name_partition(spark):
    src = _delta_source(
        spark,
        "partitions/location-name",
        sort_by_timestamp=True,
        tag_columns=["series name", "location"],
        column_mapping={"location": "Location", "value": "Value"},
        partitions=[
            {"origin": "tag", "key": "location"},
            {"origin": "tag", "key": "series name"},
        ],
    )
    sel = SeriesSelector(
        "partition-location-name",
        {"series name": "test-tag-1", "location": "Antwerp"},
    )
    rows = src.get_data(
        sel,
        datetime(2023, 1, 1, tzinfo=timezone.utc),
        datetime(2023, 3, 20, tzinfo=timezone.utc),
    ).collect()
    assert len(rows) == 12


def test_delta_year_partition(spark):
    src = _delta_source(
        spark,
        "partitions/year",
        sort_by_timestamp=True,
        tag_columns=["location", "series name"],
        partitions=[
            {"origin": "timestamp", "key": "YEAR", "column": "partition_year"}
        ],
    )
    sel = SeriesSelector(
        "partition-year",
        {"series name": "test-tag-1", "location": "Antwerp"},
    )
    rows = src.get_data(
        sel,
        datetime(2021, 1, 1, tzinfo=timezone.utc),
        datetime(2022, 12, 31, 23, 59, tzinfo=timezone.utc),
    ).collect()
    assert len(rows) == 12


def test_delta_year_partition_custom_format(spark):
    src = _delta_source(
        spark,
        "partitions/year-custom",
        sort_by_timestamp=True,
        tag_columns=["location", "series name"],
        partitions=[
            {
                "origin": "timestamp",
                "key": "YEAR",
                "column": "partition_year",
                "format": "%y-year",
            }
        ],
    )
    sel = SeriesSelector(
        "partition-year-custom",
        {"series name": "test-tag-1", "location": "Antwerp"},
    )
    rows = src.get_data(
        sel,
        datetime(2021, 1, 1, tzinfo=timezone.utc),
        datetime(2022, 12, 31, 23, 59, tzinfo=timezone.utc),
    ).collect()
    assert len(rows) == 12


def test_delta_month_partition(spark):
    src = _delta_source(
        spark,
        "partitions/month",
        sort_by_timestamp=True,
        tag_columns=["location", "series name"],
        partitions=[
            {"origin": "timestamp", "key": "MONTH", "format": "%Y-%m"}
        ],
    )
    sel = SeriesSelector(
        "partition-month",
        {"series name": "test-tag-1", "location": "Antwerp"},
    )
    rows = src.get_data(
        sel,
        datetime(2020, 11, 1, tzinfo=timezone.utc),
        datetime(2021, 1, 31, 23, 59, tzinfo=timezone.utc),
    ).collect()
    assert len(rows) == 23


def test_delta_partition_filter_reaches_scan(spark):
    src = _delta_source(
        spark,
        "partitions/year",
        tag_columns=["location", "series name"],
        partitions=[
            {"origin": "timestamp", "key": "YEAR", "column": "partition_year"}
        ],
    )
    sel = SeriesSelector(
        "partition-year",
        {"series name": "test-tag-1", "location": "Antwerp"},
    )
    df = src.get_data(
        sel,
        datetime(2021, 1, 1, tzinfo=timezone.utc),
        datetime(2022, 12, 31, 23, 59, tzinfo=timezone.utc),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partition_year" in plan  # the IN filter exists and prunes


# ---------------------------------------------------------------------------
# The reference's 144-source master config through our loader + factory
# (reference tests/integration/test_flight.py drives the same file)
# ---------------------------------------------------------------------------
def test_reference_master_config(spark, monkeypatch):
    from kukur_spark.config import from_toml
    from kukur_spark.sources import SourceFactory

    monkeypatch.chdir("/root/reference")
    cfg = from_toml("tests/test_data/Kukur.toml")
    sources = cfg.get("source", {})
    assert len(sources) >= 140  # 144 at time of writing
    # quality mapping tables from the root fragment survive the merge
    assert "opc_mapping_strings" in cfg.get("quality_mapping", {})

    fac = SourceFactory(spark, cfg)
    # a Delta source configured via ``uri`` + column_mapping
    src = fac.get_source("row-delta")
    sel = SeriesSelector.from_name("row-delta", "test-tag-1")
    rows = src.get_data(sel, DELTA_START, DELTA_END).collect()
    assert len(rows) == 5
    # a formatted-MONTH partitioned source straight from the config
    src2 = fac.get_source("partition-month")
    sel2 = SeriesSelector(
        "partition-month",
        {"series name": "test-tag-1", "location": "Antwerp"},
    )
    rows2 = src2.get_data(
        sel2,
        datetime(2020, 11, 1, tzinfo=timezone.utc),
        datetime(2021, 1, 31, 23, 59, tzinfo=timezone.utc),
    ).collect()
    assert len(rows2) == 23


def test_reference_type_names_all_resolve():
    """Every source type the reference registers resolves in our factory.

    Mirrors the reference registration map kukur/source/__init__.py:67-91;
    `integration-test` is the reference's internal test rig and is
    deliberately unsupported.
    """
    from kukur_spark.sources import SOURCE_TYPES

    reference_types = [
        "adodb",
        "arrows",
        "cratedb",
        "csv",
        "azure-data-explorer",
        "databricks-sql",
        "datafusion",
        "delta",
        "elasticsearch",
        "feather",
        "influxdb",
        "json",
        "kukur",
        "odbc",
        "parquet",
        "piwebapi-af",
        "piwebapi-af-template",
        "piwebapi-da",
        "plugin",
        "postgresql",
        "redshift",
        "simulator",
        "sqlite",
        "tdengine",
    ]
    missing = [t for t in reference_types if t not in SOURCE_TYPES]
    assert missing == []


def test_reference_spelling_builds_source(spark):
    """A TOML fragment using the reference's hyphenated spellings builds."""
    from kukur_spark.sources import SourceFactory

    cfg = {
        "source": {
            "adx": {
                "type": "azure-data-explorer",
                "url": "https://adx.example",
                "database": "db",
                "table": "events",
            },
            "pi": {
                "type": "piwebapi-da",
                "url": "https://pi.example/piwebapi",
            },
        }
    }
    fac = SourceFactory(spark, cfg)
    from kukur_spark.sources.adx import AzureDataExplorerSource
    from kukur_spark.sources.piwebapi import PIWebAPISource

    assert isinstance(fac.get_source("adx").source, AzureDataExplorerSource)
    assert isinstance(fac.get_source("pi").source, PIWebAPISource)

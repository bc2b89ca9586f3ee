"""End-to-end CSV source tests over synthesized fixtures (FIXTURES.md §1-7).

Fixture shapes mirror the reference's test corpus semantics
(tests/source/test_csv.py patterns): row/pivot/dir layouts, quality column,
multi-tag multi-field, metadata files, dictionaries.
"""

from datetime import datetime, timezone

import pytest

from kukur_spark.base import SERIES_NAME_TAG, SeriesSelector
from kukur_spark.metadata import Metadata
from kukur_spark.sources.file_source import FileSource, FileSourceOptions

START = datetime(2020, 1, 1, tzinfo=timezone.utc)
END = datetime(2021, 1, 1, tzinfo=timezone.utc)

ROW_CSV = """
test-tag-1,2020-01-01T00:00:00Z,1
test-tag-1,2020-02-01T00:00:00Z,2
test-tag-1,2020-03-01T00:00:00Z,3
test-tag-1,2020-04-01T00:00:00Z,4
test-tag-1,2020-05-01T00:00:00Z,5
test-tag-2,2020-01-01T00:00:00Z,10
test-tag-2,2020-02-01T00:00:00Z,11
"""


def make_source(spark, path, **kwargs):
    return FileSource(spark, "test", FileSourceOptions(path=path, **kwargs))


def test_row_get_data(spark, make_csv):
    source = make_source(spark, make_csv(ROW_CSV))
    selector = SeriesSelector.from_name("test", "test-tag-1")
    rows = source.get_data(selector, START, END).collect()
    assert len(rows) == 5
    assert rows[0]["ts"] == datetime(2020, 1, 1)
    assert rows[0]["value"] == 1.0
    assert [r["value"] for r in rows] == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_row_range_filter_half_open(spark, make_csv):
    source = make_source(spark, make_csv(ROW_CSV))
    selector = SeriesSelector.from_name("test", "test-tag-1")
    rows = source.get_data(
        selector,
        datetime(2020, 2, 1, tzinfo=timezone.utc),
        datetime(2020, 4, 1, tzinfo=timezone.utc),
    ).collect()
    # [start, end): includes Feb 1, excludes Apr 1
    assert [r["value"] for r in rows] == [2.0, 3.0]


def test_row_search(spark, make_csv):
    source = make_source(spark, make_csv(ROW_CSV))
    from kukur_spark.base import SeriesSearch

    results = list(source.search(SeriesSearch("test")))
    names = sorted(s.name for s in results)
    assert names == ["test-tag-1", "test-tag-2"]


def test_row_header_and_column_mapping(spark, make_csv):
    content = """
name,timestamp,val
test-tag-1,2020-01-01T00:00:00Z,1
test-tag-1,2020-02-01T00:00:00Z,2
"""
    source = make_source(
        spark,
        make_csv(content),
        header=True,
        column_mapping={SERIES_NAME_TAG: "name", "ts": "timestamp", "value": "val"},
    )
    rows = source.get_data(
        SeriesSelector.from_name("test", "test-tag-1"), START, END
    ).collect()
    assert [r["value"] for r in rows] == [1.0, 2.0]


def test_row_semicolon_and_decimal_comma(spark, make_csv):
    content = """
test-tag-1;2020-01-01T00:00:00Z;1,5
test-tag-1;2020-02-01T00:00:00Z;2,5
"""
    source = make_source(
        spark, make_csv(content), delimiter=";", decimal_point=","
    )
    rows = source.get_data(
        SeriesSelector.from_name("test", "test-tag-1"), START, END
    ).collect()
    assert [r["value"] for r in rows] == [1.5, 2.5]


def test_row_custom_datetime_format_and_timezone(spark, make_csv):
    content = """
test-tag-1,01/02/2020 10:30,1
test-tag-1,01/03/2020 10:30,2
"""
    source = make_source(
        spark,
        make_csv(content),
        data_datetime_format="dd/MM/yyyy HH:mm",
        data_timezone="Europe/Brussels",
    )
    rows = source.get_data(
        SeriesSelector.from_name("test", "test-tag-1"), START, END
    ).collect()
    # 10:30 Brussels (CET, +1) == 09:30 UTC
    assert rows[0]["ts"] == datetime(2020, 2, 1, 9, 30)


def test_row_string_values(spark, make_csv):
    content = """
test-tag-5,2020-01-01T00:00:00Z,A
test-tag-5,2020-02-01T00:00:00Z,B
"""
    source = make_source(spark, make_csv(content))
    rows = source.get_data(
        SeriesSelector.from_name("test", "test-tag-5"), START, END
    ).collect()
    assert [r["value"] for r in rows] == ["A", "B"]


def test_row_quality_mapping(spark, make_csv):
    content = """
test-tag-1,2020-01-01T00:00:00Z,1,GoodQuality
test-tag-1,2020-02-01T00:00:00Z,2,GoodQuality
test-tag-1,2020-03-01T00:00:00Z,3,BadQuality
test-tag-1,2020-04-01T00:00:00Z,4,GoodQuality
test-tag-1,2020-05-01T00:00:00Z,5,GoodQuality
"""
    options = FileSourceOptions.from_config(
        {"path": make_csv(content), "quality_mapping": "opc_mapping_strings"}
    )
    source = FileSource(spark, "test", options)
    rows = source.get_data(
        SeriesSelector.from_name("test", "test-tag-1"), START, END
    ).collect()
    assert [r["quality"] for r in rows] == [1, 1, 0, 1, 1]


def test_row_quality_mapping_integer_ranges(spark, make_csv):
    content = """
test-tag-1,2020-01-01T00:00:00Z,1,192
test-tag-1,2020-02-01T00:00:00Z,2,219
test-tag-1,2020-03-01T00:00:00Z,3,0
test-tag-1,2020-04-01T00:00:00Z,4,250
"""
    options = FileSourceOptions.from_config(
        {"path": make_csv(content), "quality_mapping": "opc_mapping_ranges"}
    )
    source = FileSource(spark, "test", options)
    rows = source.get_data(
        SeriesSelector.from_name("test", "test-tag-1"), START, END
    ).collect()
    # GOOD range is [192, 219] inclusive
    assert [r["quality"] for r in rows] == [1, 1, 0, 0]


def test_row_tags_and_fields(spark, make_csv):
    content = """
location,plant,ts,product,value
Antwerp,P1,2020-01-01T00:00:00Z,A,1
Antwerp,P2,2020-01-01T00:00:00Z,A,1
Barcelona,P1,2020-01-01T00:00:00Z,A,1
Barcelona,P2,2020-01-01T00:00:00Z,B,1
Antwerp,P1,2020-02-01T00:00:00Z,A,2
"""
    source = make_source(
        spark,
        make_csv(content),
        header=True,
        tag_columns=["location", "plant"],
        field_columns=["value", "product"],
    )
    from kukur_spark.base import SeriesSearch

    series = list(source.search(SeriesSearch("test")))
    assert len(series) == 8  # 4 tag combos × 2 fields
    selector = SeriesSelector.from_name("test", "location=Antwerp,plant=P1")
    rows = source.get_data(selector, START, END).collect()
    assert [r["value"] for r in rows] == [1.0, 2.0]
    # string-valued field
    product = SeriesSelector.from_name("test", "location=Antwerp,plant=P1::product")
    rows = source.get_data(product, START, END).collect()
    assert [r["value"] for r in rows] == ["A", "A"]


def test_pivot_layout(spark, make_csv):
    content = """
timestamp,test-tag-1,test-tag-2
2020-01-01T00:00:00Z,1,10
2020-02-02T00:00:00Z,2,11
"""
    source = make_source(spark, make_csv(content), format="pivot", header=True)
    from kukur_spark.base import SeriesSearch

    names = sorted(s.name for s in source.search(SeriesSearch("test")))
    assert names == ["test-tag-1", "test-tag-2"]
    rows = source.get_data(
        SeriesSelector.from_name("test", "test-tag-2"), START, END
    ).collect()
    assert [r["value"] for r in rows] == [10.0, 11.0]
    with pytest.raises(KeyError):
        source.get_data(
            SeriesSelector.from_name("test", "missing"), START, END
        ).collect()


def test_dir_layout(spark, tmp_path):
    d = tmp_path / "series"
    d.mkdir()
    (d / "test-tag-1.csv").write_text(
        "2020-01-01T00:00:00Z,1\n2020-02-01T00:00:00Z,2\n"
    )
    (d / "test-tag-2.csv").write_text("2020-01-01T00:00:00Z,5\n")
    source = make_source(spark, str(d), format="dir")
    from kukur_spark.base import SeriesSearch

    names = sorted(s.name for s in source.search(SeriesSearch("test")))
    assert names == ["test-tag-1", "test-tag-2"]
    rows = source.get_data(
        SeriesSelector.from_name("test", "test-tag-1"), START, END
    ).collect()
    assert [r["value"] for r in rows] == [1.0, 2.0]


def _mixed_type_source(spark, tmp_path, layout):
    if layout == "dir":
        d = tmp_path / "series"
        d.mkdir()
        (d / "a.csv").write_text(
            "2020-01-01T00:00:00Z,1\n2020-02-01T00:00:00Z,2\n"
        )
        (d / "b.csv").write_text(
            "2020-01-01T00:00:00Z,on\n2020-02-01T00:00:00Z,off\n"
        )
        return make_source(spark, str(d), format="dir")
    path = tmp_path / "pivot.csv"
    path.write_text(
        "ts,a,b\n2020-01-01T00:00:00Z,1,on\n2020-02-01T00:00:00Z,2,off\n"
    )
    return make_source(spark, str(path), format="pivot")


@pytest.mark.parametrize("layout", ["dir", "pivot"])
@pytest.mark.parametrize("order", [("a", "b"), ("b", "a")])
def test_value_type_sniffed_per_series(spark, tmp_path, layout, order):
    """Each series sniffs its own value type (reference arrow.py:235-241):
    a numeric series stays double and an on/off series stays string,
    whichever of the two a source reads first."""
    source = _mixed_type_source(spark, tmp_path, layout)
    expected = {"a": ("double", [1.0, 2.0]), "b": ("string", ["on", "off"])}
    for name in order:
        df = source.get_data(SeriesSelector.from_name("test", name), START, END)
        dtype, values = expected[name]
        assert dict(df.dtypes)["value"] == dtype, name
        assert [r["value"] for r in df.collect()] == values, name


def test_metadata_csv_with_derived_accuracy(spark, make_csv, tmp_path):
    data_path = make_csv(ROW_CSV, "data.csv")
    metadata_csv = (
        "series name,description,unit,functional lower limit,"
        "functional upper limit,accuracy percentage,interpolation type,location\n"
        "test-tag-1,,m,0,10,2,LINEAR,Antwerp\n"
    )
    metadata_path = tmp_path / "metadata.csv"
    metadata_path.write_text(metadata_csv)
    source = make_source(
        spark, data_path, metadata_path=str(metadata_path)
    )
    metadata = source.get_metadata(SeriesSelector.from_name("test", "test-tag-1"))
    assert metadata["unit"] == "m"
    assert metadata["accuracy"] == pytest.approx(0.2)
    assert metadata["location"] == "Antwerp"  # custom column → untyped field
    # search with metadata file yields Metadata objects
    from kukur_spark.base import SeriesSearch

    results = list(source.search(SeriesSearch("test")))
    assert all(isinstance(r, Metadata) for r in results)


def test_dictionary_file(spark, make_csv, tmp_path):
    data_path = make_csv(ROW_CSV, "data.csv")
    metadata_path = tmp_path / "metadata.csv"
    metadata_path.write_text(
        "series name,data type,dictionary name\ntest-tag-1,DICTIONARY,Active\n"
    )
    dictionary_dir = tmp_path / "dictionary"
    dictionary_dir.mkdir()
    (dictionary_dir / "Active.csv").write_text("0,OFF\n1,ON\n")
    source = make_source(
        spark,
        data_path,
        metadata_path=str(metadata_path),
        dictionary_dir=str(dictionary_dir),
    )
    metadata = source.get_metadata(SeriesSelector.from_name("test", "test-tag-1"))
    assert metadata["dictionary"].mapping == {0: "OFF", 1: "ON"}


def test_search_df_row_layout(spark, make_csv):
    """search_df: one row per (tags, field), streamed — not collected."""
    from kukur_spark.base import SeriesSearch

    source = make_source(spark, make_csv(ROW_CSV))
    df = source.search_df(SeriesSearch("test"))
    assert df.columns == [SERIES_NAME_TAG, "field"]
    rows = df.collect()
    assert [(r[SERIES_NAME_TAG], r["field"]) for r in rows] == [
        ("test-tag-1", "value"),
        ("test-tag-2", "value"),
    ]


def test_search_df_tag_filter_matches_iterator(spark, make_csv):
    from kukur_spark.base import SeriesSearch

    source = make_source(spark, make_csv(ROW_CSV))
    search = SeriesSearch("test", {SERIES_NAME_TAG: "test-tag-2"})
    df_rows = source.search_df(search).collect()
    it_rows = list(source.search(search))
    assert len(df_rows) == len(it_rows) == 1
    assert df_rows[0][SERIES_NAME_TAG] == "test-tag-2"
    assert it_rows[0].tags[SERIES_NAME_TAG] == "test-tag-2"


def test_search_df_unknown_tag_key_matches_nothing(spark, make_csv):
    from kukur_spark.base import SeriesSearch

    source = make_source(spark, make_csv(ROW_CSV))
    assert source.search_df(
        SeriesSearch("test", {"no-such-tag": "x"})
    ).count() == 0


def test_search_df_field_order_is_config_order(spark, make_csv):
    """Multiple fields iterate in configured order, not alphabetical."""
    from kukur_spark.base import SeriesSearch

    content = """
series name,ts,zfield,afield
s1,2020-01-01T00:00:00Z,1,2
"""
    source = make_source(
        spark,
        make_csv(content),
        header=True,
        field_columns=["zfield", "afield"],
    )
    fields = [r["field"] for r in source.search_df(SeriesSearch("test")).collect()]
    assert fields == ["zfield", "afield"]

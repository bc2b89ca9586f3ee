"""The fingerprint-keyed plan cache (``kukur_spark/plancache.py``).

A cached plan is reused only while the files it was built from are
unchanged, so a verb call sees a changed, added or replaced file on the
very next call; unchanged files keep returning the identical handle.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.feather
import pyarrow.parquet as pq

from kukur_spark.app import Engine
from kukur_spark.base import SeriesSearch, SeriesSelector
from kukur_spark.io import load_table
from kukur_spark.plancache import PlanCache, fingerprint

START = datetime(2019, 1, 1, tzinfo=timezone.utc)
END = datetime(2021, 1, 1, tzinfo=timezone.utc)


def _values(engine: Engine, name: str, source: str = "src") -> list:
    df = engine.get_data(SeriesSelector.from_name(source, name), START, END)
    return [row["value"] for row in df.orderBy("ts").collect()]


def _series_table(rows) -> pa.Table:
    """Row-layout table from (series, day-of-2020, value) triples."""
    return pa.table(
        {
            "series name": [r[0] for r in rows],
            "ts": pa.array(
                [datetime(2020, 1, r[1], tzinfo=timezone.utc) for r in rows],
                pa.timestamp("us", tz="UTC"),
            ),
            "value": [float(r[2]) for r in rows],
        }
    )


# ---------------------------------------------------------------------------
# PlanCache and fingerprint
# ---------------------------------------------------------------------------
def test_plan_cache_reuses_only_under_equal_fingerprint():
    cache = PlanCache()
    built = []

    def build(tag):
        def _build():
            built.append(tag)
            return object()

        return _build

    first = cache.get("k", ("f", 1, 1), build("a"))
    assert cache.get("k", ("f", 1, 1), build("b")) is first
    changed = cache.get("k", ("f", 2, 1), build("c"))
    assert changed is not first
    # None means uncheckable inputs: built every call, never stored
    assert cache.get("u", None, build("d")) is not cache.get("u", None, build("e"))
    assert built == ["a", "c", "d", "e"]


def test_plan_cache_lru_bound():
    cache = PlanCache(max_entries=2)
    a = cache.get("a", 1, object)
    b = cache.get("b", 1, object)
    assert cache.get("a", 1, object) is a  # a is now most recent
    cache.get("c", 1, object)  # evicts b, the least recently used
    assert cache.get("a", 1, object) is a
    assert cache.get("b", 1, object) is not b


def test_fingerprint_walks_files_globs_and_uris(tmp_path):
    table = tmp_path / "t"
    (table / "_delta_log").mkdir(parents=True)
    (table / "_delta_log" / "0.json").write_text("{}")
    (table / ".part-0.crc").write_text("x")
    (table / "part-0.parquet").write_text("abc")
    listing = fingerprint(str(table))
    assert [entry[0] for entry in listing] == [
        ".part-0.crc",
        "_delta_log/0.json",
        "part-0.parquet",
    ]
    assert listing[2][1] == 3  # size
    assert fingerprint(f"file://{table}") == listing
    one = fingerprint(str(table / "part-0.parquet"))
    assert len(one) == 1 and one[0][1:] == listing[2][1:]
    assert [e[0] for e in fingerprint(str(table / "*.parquet"))] == [
        str(table / "part-0.parquet")
    ]
    assert fingerprint(str(tmp_path / "missing")) == ()
    assert fingerprint("s3://bucket/table") is None
    (table / "part-1.parquet").write_text("d")
    assert fingerprint(str(table)) != listing


def test_load_table_hit_returns_identical_handle(spark, tmp_path):
    pq.write_table(pa.table({"r_regionkey": [0]}), str(tmp_path / "region.parquet"))
    sf = str(tmp_path)
    assert load_table(spark, sf, "region") is load_table(spark, sf, "region")


def test_config_with_search_cache_seconds_still_loads(spark, tmp_path):
    """The retired knob is ignored: even ``0`` no longer disables reuse."""
    (tmp_path / "d.csv").write_text("s1,2020-01-01T00:00:00Z,1\n")
    engine = Engine(
        {
            "source": {
                "src": {
                    "type": "csv",
                    "path": str(tmp_path / "d.csv"),
                    "search_cache_seconds": 0,
                }
            }
        },
        spark,
    )
    source = engine.factory.get_source("src").source
    assert source.search_df(SeriesSearch("src")) is source.search_df(
        SeriesSearch("src")
    )
    assert _values(engine, "s1") == [1.0]


# ---------------------------------------------------------------------------
# freshness: a changed file is visible on the very next call
# ---------------------------------------------------------------------------
def test_csv_row_source_appended_in_place(spark, tmp_path):
    path = tmp_path / "d.csv"
    path.write_text("s1,2020-01-01T00:00:00Z,1\n")
    engine = Engine({"source": {"src": {"type": "csv", "path": str(path)}}}, spark)
    assert _values(engine, "s1") == [1.0]
    with open(path, "a") as handle:
        handle.write("s1,2020-01-02T00:00:00Z,2\ns1,2020-01-03T00:00:00Z,3\n")
    assert _values(engine, "s1") == [1.0, 2.0, 3.0]


def test_parquet_directory_gains_a_file(spark, tmp_path):
    table = tmp_path / "t"
    table.mkdir()
    pq.write_table(_series_table([("s1", 1, 1)]), str(table / "part-0.parquet"))
    engine = Engine(
        {"source": {"src": {"type": "parquet", "path": str(table)}}}, spark
    )
    names = lambda: [s.name for s in engine.search(SeriesSearch("src"))]  # noqa: E731
    assert names() == ["s1"]
    pq.write_table(
        _series_table([("s1", 2, 2), ("s2", 1, 9)]), str(table / "part-1.parquet")
    )
    assert names() == ["s1", "s2"]
    assert _values(engine, "s1") == [1.0, 2.0]
    assert _values(engine, "s2") == [9.0]


def test_dir_layout_series_file_replaced(spark, tmp_path):
    root = tmp_path / "series"
    root.mkdir()
    (root / "s1.csv").write_text("2020-01-01T00:00:00Z,1\n")
    engine = Engine(
        {"source": {"src": {"type": "csv", "format": "dir", "path": str(root)}}},
        spark,
    )
    assert _values(engine, "s1") == [1.0]
    staged = tmp_path / "s1.csv.new"
    staged.write_text(
        "2020-01-01T00:00:00Z,5\n2020-01-02T00:00:00Z,6\n2020-01-03T00:00:00Z,7\n"
    )
    os.replace(staged, root / "s1.csv")
    assert _values(engine, "s1") == [5.0, 6.0, 7.0]


def test_feather_file_rewritten(spark, tmp_path):
    path = tmp_path / "d.feather"
    pyarrow.feather.write_feather(_series_table([("s1", 1, 1), ("s1", 2, 2)]), str(path))
    engine = Engine(
        {"source": {"src": {"type": "feather", "path": str(path)}}}, spark
    )
    assert _values(engine, "s1") == [1.0, 2.0]
    # same shape, new values: only the mtime tells the two files apart
    pyarrow.feather.write_feather(_series_table([("s1", 1, 7), ("s1", 2, 8)]), str(path))
    assert _values(engine, "s1") == [7.0, 8.0]


def test_metadata_csv_edited(spark, tmp_path):
    (tmp_path / "d.csv").write_text("s1,2020-01-01T00:00:00Z,1\n")
    metadata = tmp_path / "metadata.csv"
    metadata.write_text("series name,unit\ns1,m\n")
    engine = Engine(
        {
            "source": {
                "src": {
                    "type": "csv",
                    "path": str(tmp_path / "d.csv"),
                    "metadata": str(metadata),
                }
            }
        },
        spark,
    )
    selector = SeriesSelector.from_name("src", "s1")
    assert engine.get_metadata(selector)["unit"] == "m"
    metadata.write_text("series name,unit\ns1,km\n")
    assert engine.get_metadata(selector)["unit"] == "km"


# ---------------------------------------------------------------------------
# cost: one walk per call, identical handles on a hit
# ---------------------------------------------------------------------------
def test_nested_lookups_walk_a_directory_once(spark, tmp_path, monkeypatch):
    from kukur_spark.sources import file_source

    table = tmp_path / "t"
    table.mkdir()
    pq.write_table(_series_table([("s1", 1, 1)]), str(table / "part-0.parquet"))
    series = tmp_path / "series"
    series.mkdir()
    (series / "s1.csv").write_text("2020-01-01T00:00:00Z,1\n")
    (series / "s2.csv").write_text("2020-01-01T00:00:00Z,2\n")
    engine = Engine(
        {
            "source": {
                "row": {"type": "parquet", "path": str(table)},
                "dir": {"type": "csv", "format": "dir", "path": str(series)},
            }
        },
        spark,
    )
    walked = []

    def counting(path):
        walked.append(path)
        return fingerprint(path)

    monkeypatch.setattr(file_source, "fingerprint", counting)
    # a miss builds series → data_frame → raw, all under one walk
    assert _values(engine, "s1", "row") == [1.0]
    assert walked == [str(table)]
    source = engine.factory.get_source("row").source
    assert source.data_frame() is source.data_frame()  # built by the miss
    assert walked == [str(table)] * 3
    # a dir-layout series stats its own file, never the directory
    walked.clear()
    assert _values(engine, "s2", "dir") == [2.0]
    assert walked == [str(series / "s2.csv")]


# ---------------------------------------------------------------------------
# concurrency: threads racing on cold entries get the serial answers
# ---------------------------------------------------------------------------
def _arrow_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    table = table.combine_chunks()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def test_threaded_mixed_verbs_match_serial(spark, tmp_path):
    path = tmp_path / "d.parquet"
    rows = [
        (f"s{i}", day, i * 100 + day * (-1) ** day)
        for i in range(4)
        for day in range(1, 29)
    ]
    pq.write_table(_series_table(rows), str(path))
    config = {"source": {"src": {"type": "parquet", "path": str(path)}}}
    plot_start = datetime(2020, 1, 1, tzinfo=timezone.utc)
    plot_end = datetime(2020, 2, 1, tzinfo=timezone.utc)

    def run(engine: Engine, call):
        kind, name = call
        if kind == "search":
            return [s.name for s in engine.search(SeriesSearch("src"))]
        if kind == "sql":
            df = engine.sql(
                "SELECT `series name`, count(*) AS n, sum(value) AS total"
                f" FROM src WHERE `series name` = '{name}'"
                " GROUP BY `series name`",
                sources=["src"],
            )
            return _arrow_bytes(df.toArrow())
        selector = SeriesSelector.from_name("src", name)
        if kind == "get_data":
            df = engine.get_data(selector, START, END)
        else:
            df = engine.get_plot_data(selector, plot_start, plot_end, 4)
        return _arrow_bytes(df.toArrow())

    calls = [
        (kind, f"s{i % 4}")
        for i, kind in enumerate(
            ["search", "get_data", "search", "get_plot_data", "sql"] * 6
        )
    ]
    serial_engine = Engine(config, spark)
    expected = [run(serial_engine, call) for call in calls]
    engine = Engine(config, spark)  # cold: the threads race to build
    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(lambda call: run(engine, call), calls))
    assert results == expected
    assert expected[0] == ["s0", "s1", "s2", "s3"]

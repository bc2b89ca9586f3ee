"""Spark jobs and catalog probes per verb call.

Counted from the driver: jobs as the ``DAGScheduler.nextJobId`` delta
around one call, catalog probes by wrapping ``functionExists``.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from kukur_spark.app import Engine
from kukur_spark.base import SeriesSearch, SeriesSelector
from kukur_spark.sources import file_source

UTC = timezone.utc


def _jobs(spark, call):
    """``(call(), number of Spark jobs it submitted)``."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(scheduler.nextJobId())
    out = call()
    return out, int(scheduler.nextJobId()) - before


def _arrow_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    table = table.combine_chunks()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def _series_table(name: str, points) -> pa.Table:
    """Row-layout table of one series from (day, hour, value) points of
    January 2020."""
    return pa.table(
        {
            "series name": [name] * len(points),
            "ts": pa.array(
                [datetime(2020, 1, 1 + d, h, tzinfo=UTC) for d, h, _ in points],
                pa.timestamp("us", tz="UTC"),
            ),
            "value": [float(v) for _, _, v in points],
        }
    )


def test_hot_search_runs_no_job_and_sees_an_added_series(spark, tmp_path):
    table = tmp_path / "t"
    table.mkdir()
    pq.write_table(_series_table("s1", [(0, 0, 1)]), str(table / "part-0.parquet"))
    engine = Engine(
        {"source": {"src": {"type": "parquet", "path": str(table)}}}, spark
    )

    def names():
        return [s.name for s in engine.search(SeriesSearch("src"))]

    assert names() == ["s1"]
    hot, jobs = _jobs(spark, names)
    assert (hot, jobs) == (["s1"], 0)
    pq.write_table(_series_table("s2", [(0, 0, 2)]), str(table / "part-1.parquet"))
    assert names() == ["s1", "s2"]


def test_search_above_the_row_bound_collects_once_per_call(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(file_source, "MAX_CACHED_SEARCH_ROWS", 1)
    table = tmp_path / "t"
    table.mkdir()
    pq.write_table(
        pa.concat_tables(
            [_series_table("s1", [(0, 0, 1)]), _series_table("s2", [(0, 0, 2)])]
        ),
        str(table / "part-0.parquet"),
    )
    engine = Engine(
        {"source": {"src": {"type": "parquet", "path": str(table)}}}, spark
    )

    def names():
        return [s.name for s in engine.search(SeriesSearch("src"))]

    assert names() == ["s1", "s2"]
    assert _jobs(spark, names) == (["s1", "s2"], 1)
    pq.write_table(_series_table("s3", [(0, 0, 3)]), str(table / "part-1.parquet"))
    assert names() == ["s1", "s2", "s3"]

# one series with duplicate timestamps and value ties, plotted over four
# one-day buckets: on 2020-01-01 the first point (00:00, 1) and the max
# point (00:00, 9) share a timestamp, on 2020-01-02 every value ties, on
# 2020-01-03 the min (12:00, 0) and max (12:00, 8) points share one, and
# 2020-01-04 is empty
_PLOT_POINTS = [
    (0, 0, 1), (0, 0, 9), (0, 6, 5), (0, 12, 1), (0, 18, 5),
    (1, 0, 3), (1, 6, 3), (1, 12, 3), (1, 12, 3),
    (2, 6, 2), (2, 12, 8), (2, 12, 0), (2, 18, 4), (2, 18, 6),
]
# get_plot_data's output for _PLOT_POINTS, frozen from the implementation
# that deduplicated with GROUP BY ts, first(value) and sorted globally
_PLOT_FROZEN = pa.table(
    {
        "ts": pa.array(
            [
                datetime(2020, 1, d, h, tzinfo=UTC)
                for d, h in [(1, 0), (1, 18), (2, 0), (2, 12), (3, 6), (3, 12), (3, 18)]
            ],
            pa.timestamp("us", tz="UTC"),
        ),
        "value": pa.array([1.0, 5.0, 3.0, 3.0, 2.0, 0.0, 6.0], pa.float64()),
    }
)


def test_plot_data_runs_two_jobs_with_frozen_output(spark, tmp_path):
    path = tmp_path / "d.parquet"
    pq.write_table(_series_table("s1", _PLOT_POINTS), str(path))
    engine = Engine({"source": {"src": {"type": "parquet", "path": str(path)}}}, spark)

    def plot():
        return engine.get_plot_data(
            SeriesSelector.from_name("src", "s1"),
            datetime(2020, 1, 1, tzinfo=UTC),
            datetime(2020, 1, 5, tzinfo=UTC),
            4,
        ).toArrow()

    plot()  # the first call reads the file footer
    table, jobs = _jobs(spark, plot)
    assert jobs <= 2
    assert _arrow_bytes(table) == _arrow_bytes(_PLOT_FROZEN)


def test_second_sql_call_probes_the_catalog_once(spark, tmp_path, monkeypatch):
    (tmp_path / "d.csv").write_text("s1,2020-01-01T00:00:00Z,1\n")
    engine = Engine(
        {"source": {"demo": {"type": "csv", "path": str(tmp_path / "d.csv")}}},
        spark,
    )

    def sql():
        return engine.sql(
            "SELECT ku_opc_good(192) AS g FROM demo", sources=["demo"]
        ).collect()

    sql()
    probes = []
    real_exists = spark.catalog.functionExists

    def counting_exists(name, *args, **kwargs):
        probes.append(name)
        return real_exists(name, *args, **kwargs)

    monkeypatch.setattr(spark.catalog, "functionExists", counting_exists)
    assert sql()[0]["g"] == 1
    assert len(probes) == 1

"""Flight server end-to-end: JSON protocol over a real gRPC socket
(models reference tests/integration/test_flight.py:27-183).
"""

from datetime import datetime, timezone

import pytest

pytest.importorskip("pyarrow.flight")

from kukur_spark.app import Engine
from kukur_spark.base import SeriesSearch, SeriesSelector
from kukur_spark.flight import FlightClient, serve
from kukur_spark.metadata import Metadata

START = datetime(2020, 1, 1, tzinfo=timezone.utc)
END = datetime(2021, 1, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def flight_client(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("flight")
    (tmp / "data.csv").write_text(
        "s1,2020-01-01T00:00:00Z,1\n"
        "s1,2020-02-01T00:00:00Z,2\n"
        "s1,2020-03-01T00:00:00Z,3\n"
        "s2,2020-01-01T00:00:00Z,10\n"
    )
    (tmp / "metadata.csv").write_text(
        "series name,description,unit\ns1,Series one,m\n"
    )
    config = {
        "source": {
            "demo": {
                "type": "csv",
                "path": str(tmp / "data.csv"),
                "metadata": str(tmp / "metadata.csv"),
            }
        }
    }
    engine = Engine(config, spark)
    server = serve(engine, port=18081, background=True)
    yield FlightClient("localhost", 18081)
    server.shutdown()


def test_list_sources(flight_client):
    assert flight_client.list_sources() == ["demo"]


def test_search_returns_metadata(flight_client):
    results = list(flight_client.search(SeriesSearch("demo")))
    assert len(results) == 2
    assert all(isinstance(r, Metadata) for r in results)
    by_name = {r.series.name: r for r in results}
    assert by_name["s1"]["description"] == "Series one"


def test_get_metadata(flight_client):
    metadata = flight_client.get_metadata(
        SeriesSelector.from_name("demo", "s1")
    )
    assert metadata["unit"] == "m"


def test_get_data_arrow_stream(flight_client):
    table = flight_client.get_data(
        SeriesSelector.from_name("demo", "s1"), START, END
    )
    assert table.num_rows == 3
    assert table.column("value").to_pylist() == [1.0, 2.0, 3.0]
    assert str(table.schema.field("ts").type) == "timestamp[us, tz=UTC]"


def test_get_source_structure(flight_client):
    structure = flight_client.get_source_structure(SeriesSearch("demo"))
    assert structure["tagKeys"] == ["series name"]
    assert structure["tagValues"][0]["values"] == ["s1", "s2"]


def test_api_key_auth(spark, tmp_path):
    import pyarrow.flight as fl

    (tmp_path / "a.csv").write_text("s1,2020-01-01T00:00:00Z,1\n")
    engine = Engine(
        {
            "source": {"demo": {"type": "csv", "path": str(tmp_path / "a.csv")}},
            "api_keys": ["secret-key"],
        },
        spark,
    )
    server = serve(engine, port=18082, background=True)
    try:
        authed = FlightClient("localhost", 18082, api_key="secret-key")
        assert authed.list_sources() == ["demo"]
        anonymous = FlightClient("localhost", 18082)
        with pytest.raises(fl.FlightUnauthenticatedError):
            anonymous.list_sources()
        wrong = FlightClient("localhost", 18082, api_key="wrong")
        with pytest.raises(fl.FlightUnauthenticatedError):
            wrong.list_sources()
    finally:
        server.shutdown()


def test_get_plot_data(flight_client):
    table = flight_client.get_plot_data(
        SeriesSelector.from_name("demo", "s1"), START, END, interval_count=2
    )
    assert 0 < table.num_rows <= 4
    values = table.column("value").to_pylist()
    assert 1.0 in values and 3.0 in values


@pytest.fixture(scope="module")
def sql_flight_client(spark, tmp_path_factory):
    """Server with the sql verb enabled: explicit opt-in + api keys —
    the verb executes arbitrary SELECTs server-side, so an anonymous or
    non-opted-in server must refuse it (see test_sql_verb_gated)."""
    tmp = tmp_path_factory.mktemp("flight_sql")
    (tmp / "data.csv").write_text(
        "s1,2020-01-01T00:00:00Z,1\n"
        "s1,2020-02-01T00:00:00Z,2\n"
        "s1,2020-03-01T00:00:00Z,3\n"
        "s2,2020-01-01T00:00:00Z,10\n"
    )
    config = {
        "source": {
            "demo": {"type": "csv", "path": str(tmp / "data.csv")}
        },
        "api_keys": ["sql-key"],
        "flight": {"enable_sql": True},
    }
    engine = Engine(config, spark)
    server = serve(engine, port=18083, background=True)
    yield FlightClient("localhost", 18083, api_key="sql-key")
    server.shutdown()


def test_sql_verb_gated(flight_client):
    """The default server (no opt-in, no keys) refuses the sql verb."""
    import pyarrow.flight as fl

    with pytest.raises(fl.FlightServerError, match="sql verb disabled"):
        flight_client.sql("SELECT 1 AS one", sources=[])


def test_sql_verb_over_flight(sql_flight_client):
    """Fifth verb (Spark extension): SQL over configured sources,
    streamed back as Arrow — the reference gateway has no executor to
    offer this.  Requires flight.enable_sql + authentication."""
    table = sql_flight_client.sql(
        "SELECT `series name` AS s, COUNT(*) AS n, SUM(value) AS total"
        " FROM demo GROUP BY 1 ORDER BY 1",
        sources=["demo"],
    )
    assert table.column_names == ["s", "n", "total"]
    assert table.to_pylist() == [
        {"s": "s1", "n": 3, "total": 6.0},
        {"s": "s2", "n": 1, "total": 10.0},
    ]


def test_sql_verb_uses_ku_functions(sql_flight_client):
    table = sql_flight_client.sql(
        "SELECT ku_selector_name(map('series name', `series name`),"
        " 'value') AS name FROM demo GROUP BY 1 ORDER BY 1",
        sources=["demo"],
    )
    # a sole 'series name' tag renders as the bare value, matching the
    # reference's SeriesSelector.name
    assert [r["name"] for r in table.to_pylist()] == ["s1", "s2"]


def test_sql_verb_rejects_ddl_and_paths(sql_flight_client):
    # the ValueError from Engine.sql crosses gRPC as an ArrowInvalid —
    # match on the guard's message, not the wrapper type
    with pytest.raises(Exception, match="forbidden token"):
        sql_flight_client.sql(
            "SELECT * FROM parquet.`/etc/passwd`", sources=[]
        )
    with pytest.raises(Exception, match="only SELECT"):
        sql_flight_client.sql(
            "INSERT OVERWRITE DIRECTORY '/tmp/x' SELECT 1", sources=[]
        )


def test_sql_verb_named_parameters(sql_flight_client):
    table = sql_flight_client.sql(
        "SELECT COUNT(*) AS n FROM demo WHERE `series name` = :s",
        sources=["demo"],
        args={"s": "s1"},
    )
    assert table.to_pylist() == [{"n": 3}]


def test_stream_window_over_flight(spark, tmp_path_factory):
    """The window aggregate composes with the API surface: windowed_stats
    over the source's canonical frame, served over Flight as one Arrow
    stream."""
    from datetime import datetime, timezone

    tmp = tmp_path_factory.mktemp("flight_stream")
    rows = [
        ("s1", datetime(2020, 1, 1, 0, 0, tzinfo=timezone.utc), 1.0),
        ("s1", datetime(2020, 1, 1, 0, 2, tzinfo=timezone.utc), 2.0),
        ("s1", datetime(2020, 1, 1, 0, 7, tzinfo=timezone.utc), 3.0),
        ("s2", datetime(2020, 1, 1, 0, 1, tzinfo=timezone.utc), 10.0),
    ]
    spark.createDataFrame(
        rows, "`series name` string, ts timestamp, value double"
    ).coalesce(1).write.parquet(str(tmp / "stream"))
    config = {
        "source": {
            "sdemo": {
                "type": "parquet",
                "format": "row",
                "path": str(tmp / "stream"),
            }
        }
    }
    engine = Engine(config, spark)
    server = serve(engine, port=18084, background=True)
    try:
        client = FlightClient("localhost", 18084)
        table = client.stream_window(
            "sdemo", window="5 minutes", tags={"series name": "s1"}
        )
        by_start = {
            r["window_start"].minute: r for r in table.to_pylist()
        }
        assert by_start[0]["n"] == 2
        assert by_start[0]["sum_value"] == 3.0
        assert by_start[0]["first_value"] == 1.0
        assert by_start[0]["last_value"] == 2.0
        assert by_start[5]["n"] == 1
        assert all(r["series name"] == "s1" for r in table.to_pylist())
    finally:
        server.shutdown()


def test_sql_verb_rejects_jvm_reflection(sql_flight_client):
    """reflect()/java_method() would read server env vars and invoke
    arbitrary static methods — denied like DDL."""
    with pytest.raises(Exception, match="forbidden token"):
        sql_flight_client.sql(
            "SELECT reflect('java.lang.System', 'getenv', 'PATH')",
            sources=[],
        )
    with pytest.raises(Exception, match="forbidden token"):
        sql_flight_client.sql(
            "SELECT java_method('java.lang.System', 'getProperty',"
            " 'user.dir')",
            sources=[],
        )


def test_sql_verb_views_do_not_leak_across_calls(spark, tmp_path_factory):
    """Engine.sql drops the views it registered once the statement is
    analyzed, so a later call with a narrower `sources` list cannot see
    tables from an earlier broader call."""
    tmp = tmp_path_factory.mktemp("sql_views")
    from datetime import datetime, timezone

    spark.createDataFrame(
        [("s1", datetime(2020, 1, 1, tzinfo=timezone.utc), 1.0)],
        "`series name` string, ts timestamp, value double",
    ).coalesce(1).write.parquet(str(tmp / "demo"))
    config = {
        "source": {
            "demo": {"type": "parquet", "format": "row", "path": str(tmp / "demo")}
        }
    }
    engine = Engine(config, spark)
    rows = engine.sql("SELECT COUNT(*) AS n FROM demo", sources=["demo"]).collect()
    assert rows[0]["n"] == 1  # the returned frame outlives the view drop
    assert not any(t.name == "demo" for t in spark.catalog.listTables())
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|cannot be found"):
        engine.sql("SELECT COUNT(*) AS n FROM demo", sources=[]).collect()


def test_concurrent_sql_calls_keep_their_views(spark, tmp_path_factory):
    """Flight serves sql tickets from a thread pool, and every Engine
    registers its views on the one shared session: a call must not drop
    the view another call has registered but not yet analyzed."""
    from concurrent.futures import ThreadPoolExecutor

    tmp = tmp_path_factory.mktemp("sql_concurrent")
    spark.createDataFrame(
        [("s1", datetime(2020, 1, 1, tzinfo=timezone.utc), 1.0)],
        "`series name` string, ts timestamp, value double",
    ).coalesce(1).write.parquet(str(tmp / "demo"))
    config = {
        "source": {
            "demo": {"type": "parquet", "format": "row", "path": str(tmp / "demo")}
        }
    }
    engine = Engine(config, spark)

    def call(_):
        return engine.sql(
            "SELECT COUNT(*) AS n FROM demo", sources=["demo"]
        ).collect()[0]["n"]

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(call, i) for i in range(64)]
        counts = [f.result(timeout=300) for f in futures]
    assert counts == [1] * 64
    assert not any(t.name == "demo" for t in spark.catalog.listTables())


def test_stream_window_starts_no_query_and_registers_no_view(
    spark, tmp_path_factory
):
    """stream_window is one batch aggregate: a call starts no streaming
    query and leaves no catalog entry behind."""
    from datetime import datetime, timezone

    tmp = tmp_path_factory.mktemp("stream_drop")
    spark.createDataFrame(
        [("s1", datetime(2020, 1, 1, tzinfo=timezone.utc), 1.0)],
        "`series name` string, ts timestamp, value double",
    ).coalesce(1).write.parquet(str(tmp / "stream"))
    config = {
        "source": {
            "sdemo": {"type": "parquet", "format": "row", "path": str(tmp / "stream")}
        }
    }
    engine = Engine(config, spark)
    before = {t.name for t in spark.catalog.listTables()}
    spark.streams.resetTerminated()
    result = engine.stream_window("sdemo", window="5 minutes")
    assert result.count() == 1
    assert spark.streams.active == []
    # a query started and stopped by the call would count as terminated
    assert not spark.streams.awaitAnyTermination(1)
    assert {t.name for t in spark.catalog.listTables()} == before


def test_search_plan_cache_hits_and_expires(spark, tmp_path):
    """Federated latency (SURVEY.md §7 risk 6): repeated searches reuse
    the analyzed plan while the source files are unchanged (driver-side
    analysis dominates execution ~10:1 for small results), and a changed
    file expires it on the next call."""
    from kukur_spark.base import SeriesSearch
    from kukur_spark.sources.file_source import FileSource, FileSourceOptions

    (tmp_path / "d.csv").write_text("s1,2020-01-01T00:00:00Z,1\n")
    src = FileSource(
        spark,
        "c",
        FileSourceOptions(path=str(tmp_path / "d.csv")),
    )
    first = src.search_df(SeriesSearch("c"))
    assert src.search_df(SeriesSearch("c")) is first  # cache hit
    # a different tag filter is a different plan
    other = src.search_df(SeriesSearch("c", {"series name": "s1"}))
    assert other is not first
    # expiry: the file changes, so its fingerprint does
    (tmp_path / "d.csv").write_text(
        "s1,2020-01-01T00:00:00Z,1\ns2,2020-01-01T00:00:00Z,2\n"
    )
    fresh = src.search_df(SeriesSearch("c"))
    assert fresh is not first
    assert [r["series name"] for r in fresh.collect()] == ["s1", "s2"]


def test_sql_registers_functions_once(spark, tmp_path, monkeypatch):
    """The sql verb installs the ku_* functions only when the session
    lacks them: a second call issues no CREATE statement."""
    from kukur_spark.sql_functions import _FUNCTIONS

    (tmp_path / "d.csv").write_text("s1,2020-01-01T00:00:00Z,1\n")
    engine = Engine(
        {"source": {"demo": {"type": "csv", "path": str(tmp_path / "d.csv")}}},
        spark,
    )
    for name in _FUNCTIONS:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
    statements = []
    real_sql = spark.sql

    def recording_sql(statement, *args, **kwargs):
        statements.append(statement)
        return real_sql(statement, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", recording_sql)
    for _ in range(2):
        row = engine.sql(
            "SELECT ku_opc_good(192) AS g FROM demo", sources=["demo"]
        ).collect()[0]
        assert row["g"] == 1
    creates = [s for s in statements if s.startswith("CREATE")]
    assert len(creates) == len(_FUNCTIONS)


def test_flight_small_result_latency_smoke(flight_client):
    """Regression tripwire for the federated hot path: warm p50 for the
    small-result verbs must stay well under a second (measured ~0.1 s
    for search, ~0.2 s for a 1-series get_data on this box — see
    PERFORMANCE.md round 10; threshold is deliberately generous)."""
    import statistics
    import time

    start = datetime(2019, 1, 1, tzinfo=timezone.utc)
    verbs = {
        "search": lambda: list(flight_client.search(SeriesSearch("demo"))),
        "get_data": lambda: flight_client.get_data(
            SeriesSelector.from_name("demo", "s1"), start, END
        ),
    }
    for name, call in verbs.items():
        call()  # warm-up
        samples = []
        for _ in range(9):
            t0 = time.perf_counter()
            call()
            samples.append(time.perf_counter() - t0)
        assert statistics.median(samples) < 1.0, (name, samples)

"""Window aggregates: ``windowed_stats`` on a file stream (memory sink,
synchronous), and ``Engine.stream_window``'s batch form checked against
that single micro-batch composition."""

import random
import uuid
from datetime import datetime, timedelta, timezone

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kukur_spark.streaming import windowed_stats

SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def ts(minute):
    return datetime(2020, 1, 1, 0, minute, tzinfo=timezone.utc)


@pytest.fixture()
def stream_dir(spark, tmp_path):
    rows = [
        ("s1", ts(0), 1.0),
        ("s1", ts(2), 2.0),
        ("s1", ts(7), 3.0),
        ("s2", ts(1), 10.0),
        ("s2", ts(50), 20.0),  # second session for s2
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
        str(tmp_path / "stream")
    )
    return str(tmp_path / "stream")


def run_to_memory(df, name=None):
    name = name or f"out_{uuid.uuid4().hex[:8]}"
    query = (
        df.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    query.processAllAvailable()
    query.stop()
    return name


def test_windowed_stats(spark, stream_dir):
    df = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    agg = windowed_stats(df, window="5 minutes", group_columns=["series"])
    name = run_to_memory(agg)
    rows = {
        (r["series"], r["window_start"].minute): r
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    first = rows[("s1", 0)]
    assert first["n"] == 2
    assert first["sum_value"] == 3.0
    assert first["first_value"] == 1.0 and first["last_value"] == 2.0
    assert rows[("s1", 5)]["n"] == 1


def test_windowed_stats_drops_late_data(spark, tmp_path):
    path = str(tmp_path / "late")
    # batch 1: two rows in window [0,5) and one at minute 30 that pushes
    # the watermark to 20 min, finalizing (and emitting) window [0,5)
    batch1 = [("s1", ts(0), 1.0), ("s1", ts(2), 2.0), ("s1", ts(30), 9.0)]
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.parquet(path)
    df = spark.readStream.schema(SCHEMA).parquet(path)
    agg = windowed_stats(df, window="5 minutes", group_columns=["series"])
    name = f"late_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    query.processAllAvailable()
    # batch 2: a row for the already-finalized window — must be dropped,
    # plus a fresh row advancing the watermark past minute 30
    batch2 = [("s1", ts(1), 100.0), ("s1", ts(59), 1.0)]
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    query.processAllAvailable()
    query.stop()
    rows = {
        r["window_start"].minute: r
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # window [0,5) was emitted with the on-time rows only
    assert rows[0]["n"] == 2
    assert rows[0]["sum_value"] == 3.0


# -- Engine.stream_window: one batch aggregate over the canonical frame --

PARITY_SCHEMA = "`series name` string, ts timestamp, value double"


def stream_window_engine(spark, path, **options):
    from kukur_spark.app import Engine

    config = {"type": "parquet", "format": "row", "path": path, **options}
    return Engine({"source": {"src": config}}, spark)


@pytest.fixture()
def multi_file_source(spark, tmp_path):
    """3 series, 1 200 rows, shuffled over 4 parquet files so every file
    holds rows of every series out of time order.  Timestamps are unique
    per series (first/last are then well defined) and values are whole
    numbers (sums are exact in any order)."""
    rng = random.Random(7)
    start = datetime(2020, 1, 1, tzinfo=timezone.utc)
    rows = [
        (f"s{i}", start + timedelta(seconds=37 * k), float(rng.randint(-50, 50)))
        for i in range(3)
        for k in range(400)
    ]
    rng.shuffle(rows)
    path = str(tmp_path / "multi")
    for part in range(4):
        spark.createDataFrame(rows[part::4], PARITY_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(path)
    return path


def streamed_window(spark, path, window, tags):
    """The single micro-batch composition stream_window used to run:
    readStream → tag filter → windowed_stats → update-mode memory sink →
    processAllAvailable."""
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(
        path
    )
    for key, value in (tags or {}).items():
        stream = stream.filter(F.col(f"`{key}`") == F.lit(value))
    name = run_to_memory(
        windowed_stats(stream, window=window, group_columns=["series name"])
    )
    try:
        return spark.table(name).toArrow()
    finally:
        spark.catalog.dropTempView(name)


@pytest.mark.parametrize("window", ["5 minutes", "1 hour"])
@pytest.mark.parametrize("tags", [None, {"series name": "s1"}])
def test_stream_window_matches_one_micro_batch(
    spark, multi_file_source, window, tags
):
    expected = streamed_window(spark, multi_file_source, window, tags)
    engine = stream_window_engine(spark, multi_file_source)
    actual = engine.stream_window("src", window=window, tags=tags).toArrow()
    order = [("window_start", "ascending"), ("series name", "ascending")]
    assert actual.schema == expected.schema
    assert actual.sort_by(order).to_pylist() == expected.sort_by(
        order
    ).to_pylist()
    assert expected.num_rows > 0
    if tags:
        assert set(actual.column("series name").to_pylist()) == {"s1"}


def test_stream_window_reads_a_column_mapped_source(spark, tmp_path):
    """The aggregate reads the canonical frame, so a source whose files
    name their columns differently windows under the mapped names."""
    path = str(tmp_path / "mapped")
    spark.createDataFrame(
        [
            ("s1", ts(0), 1.0),
            ("s1", ts(2), 2.0),
            ("s1", ts(7), 3.0),
            ("s2", ts(1), 10.0),
        ],
        "name string, timestamp timestamp, val double",
    ).coalesce(1).write.parquet(path)
    engine = stream_window_engine(
        spark,
        path,
        column_mapping={"series name": "name", "ts": "timestamp", "value": "val"},
    )
    rows = engine.stream_window(
        "src", window="5 minutes", tags={"series name": "s1"}
    ).collect()
    assert sorted(
        (r["series name"], r["window_start"].minute, r["n"], r["sum_value"])
        for r in rows
    ) == [("s1", 0, 2, 3.0), ("s1", 5, 1, 3.0)]
    first = next(r for r in rows if r["window_start"].minute == 0)
    assert (first["first_value"], first["last_value"]) == (1.0, 2.0)

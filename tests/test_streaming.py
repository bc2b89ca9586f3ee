"""Structured Streaming tests: file source → memory sink, synchronous."""

import uuid
from datetime import datetime, timezone

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kukur_spark.streaming import stream_data, windowed_stats

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
        df.writeStream.outputMode(
            "update" if "last_value" in df.columns else "append"
        )
        .format("memory")
        .queryName(name)
        .start()
    )
    query.processAllAvailable()
    query.stop()
    return name


def test_stream_data_tag_filter(spark, stream_dir):
    df = stream_data(spark, stream_dir, SCHEMA, tags={"series": "s1"})
    assert df.isStreaming
    name = run_to_memory(df)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert len(rows) == 3
    assert all(r["series"] == "s1" for r in rows)


def test_windowed_stats(spark, stream_dir):
    df = stream_data(spark, stream_dir, SCHEMA)
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
    from kukur_spark.streaming import windowed_stats

    path = str(tmp_path / "late")
    # batch 1: two rows in window [0,5) and one at minute 30 that pushes
    # the watermark to 20 min, finalizing (and emitting) window [0,5)
    batch1 = [("s1", ts(0), 1.0), ("s1", ts(2), 2.0), ("s1", ts(30), 9.0)]
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.parquet(path)
    df = stream_data(spark, path, SCHEMA)
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

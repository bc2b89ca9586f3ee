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


def test_streaming_counter_delta_across_batches(spark, tmp_path):
    from kukur_spark.streaming import streaming_counter_delta

    path = str(tmp_path / "counter")
    batch1 = [("s1", ts(0), 10.0), ("s1", ts(2), 15.0)]
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.parquet(path)
    df = stream_data(spark, path, SCHEMA)
    out = streaming_counter_delta(df)
    name = f"ctr_{uuid.uuid4().hex[:8]}"
    query = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    query.processAllAvailable()
    # second micro-batch: a reset (15 -> 3) then normal growth; state
    # (last value 15.0) must survive the batch boundary
    batch2 = [("s1", ts(4), 3.0), ("s1", ts(6), 8.0)]
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    query.processAllAvailable()
    query.stop()
    rows = spark.sql(f"SELECT * FROM {name} ORDER BY ts_us").collect()
    assert [r["delta"] for r in rows] == [5.0, 3.0, 5.0]


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


def test_streaming_exp_smooth_across_batches(spark, tmp_path):
    from kukur_spark.streaming import streaming_exp_smooth

    path = str(tmp_path / "smooth")
    batch1 = [("s1", ts(0), 100.0), ("s1", ts(1), 50.0), ("s2", ts(0), 8.0)]
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.parquet(path)
    df = stream_data(spark, path, SCHEMA)
    out = streaming_exp_smooth(df)
    name = f"smooth_{uuid.uuid4().hex[:8]}"
    query = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    query.processAllAvailable()
    # batch 2 continues the fold from the carried state
    batch2 = [("s1", ts(5), 10.0), ("s2", ts(6), 4.0)]
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    query.processAllAvailable()
    query.stop()
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    final = {}
    for r in rows:  # update mode: last emission per series wins
        final[r["series"]] = r
    # s1: 100e6 → (100e6+50e6)>>1 = 75e6 → (75e6+10e6)>>1 = 42.5e6
    assert final["s1"]["smooth_e6"] == (75_000_000 + 10_000_000) >> 1
    assert final["s1"]["n"] == 3
    # s2: 8e6 → (8e6+4e6)>>1 = 6e6
    assert final["s2"]["smooth_e6"] == 6_000_000 and final["s2"]["n"] == 2


def test_streaming_expectations_gate_flags_planted_rows(spark, tmp_path):
    """The stateless DQ ingest gate must flag exactly the planted
    violations with the batch rule vocabulary, in one projection."""
    from kukur_spark.operators import validate as V
    from kukur_spark.streaming import streaming_expectations_gate

    rules = [
        ("value_positive", V.positive("value")),
        ("series_in_set", V.in_set("series", ["s1", "s2"])),
        ("ts_not_null", V.not_null("ts")),
    ]
    rows = [
        ("s1", ts(0), 1.0),      # clean
        ("s1", ts(1), -2.0),     # value_positive
        ("sX", ts(2), 3.0),      # series_in_set
        ("sX", ts(3), -1.0),     # both
    ]
    src = str(tmp_path / "gate_src")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.format("parquet").schema(SCHEMA).load(src)
    out = streaming_expectations_gate(stream, rules)
    assert out.isStreaming
    name = run_to_memory(out)
    got = {
        (r.series, r.value): sorted(r.violated)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert got == {
        ("s1", 1.0): [],
        ("s1", -2.0): ["value_positive"],
        ("sX", 3.0): ["series_in_set"],
        ("sX", -1.0): ["series_in_set", "value_positive"],
    }
    # batch parity: the same rules over the same frame agree row-for-row
    batch = streaming_expectations_gate(
        spark.read.parquet(src), rules
    ).collect()
    assert {
        (r.series, r.value): sorted(r.violated) for r in batch
    } == got
    spark.catalog.dropTempView(name)


def test_streaming_expectations_report_matches_batch(spark, tmp_path):
    """Windowed violation counts: closed windows emitted by the stream
    must equal the batch expectations_report grouped on the same
    event-time buckets."""
    from kukur_spark.operators import validate as V
    from kukur_spark.streaming import streaming_expectations_report
    from kukur_spark.workloads_r14 import expectations_report

    rules = [
        ("value_positive", V.positive("value")),
        ("series_in_set", V.in_set("series", ["s1", "s2"])),
    ]
    # two 5-minute windows of data, then a late sentinel at minute 50 so
    # the 10-minute watermark closes them (append mode emits only
    # finalized windows)
    rows = [
        ("s1", ts(0), 1.0),
        ("s1", ts(1), -1.0),
        ("sX", ts(2), 2.0),
        ("s2", ts(6), -3.0),
        ("s2", ts(7), 4.0),
        ("s1", ts(50), 1.0),  # watermark driver
    ]
    src = str(tmp_path / "report_src")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.format("parquet").schema(SCHEMA).load(src)
    out = streaming_expectations_report(stream, rules)
    assert out.isStreaming
    name = run_to_memory(out)
    got = {
        (r.window_start, r.check_name): (r.violations, r.total)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # batch twin over the same parquet, grouped on the same buckets
    batch_df = spark.read.parquet(src).withColumn(
        "window_start", F.window("ts", "5 minutes").start
    )
    batch = {
        (r.window_start, r.check_name): (r.violations, r.total)
        for r in expectations_report(
            batch_df, rules=rules, group_cols=("window_start",)
        ).collect()
    }
    assert got, "no windows closed — watermark sentinel broken"
    for key, counts in got.items():
        assert batch[key] == counts, key
    # the two pre-watermark windows must have closed
    assert {k[0].minute for k in got} == {0, 5}
    spark.catalog.dropTempView(name)

"""Timestamp-partition enumeration and pruning (reference Delta parity)."""

from datetime import datetime, timezone

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kukur_spark.base import SeriesSelector
from kukur_spark.operators.partitions import partition_predicate
from kukur_spark.sources.file_source import FileSource, FileSourceOptions


def ts(month, day=1, hour=0):
    return datetime(2020, month, day, hour, tzinfo=timezone.utc)


def columns(*names):
    """``timestamp_partition_columns = [names]`` as the timestamp entries
    a file source reads it as, on int partition columns."""
    return [{"key": n, "type": T.IntegerType()} for n in names]


def test_month_enumeration(spark):
    pred = partition_predicate(ts(2), ts(5), columns("year", "month"))
    df = spark.createDataFrame(
        [(2020, m) for m in range(1, 13)] + [(2019, 3)], "year int, month int"
    )
    kept = sorted(
        (r["year"], r["month"]) for r in df.filter(pred).collect()
    )
    # half-open [Feb 1, May 1): May's partition is never touched
    assert kept == [(2020, 2), (2020, 3), (2020, 4)]


def test_day_resolution_caps_to_month_for_wide_ranges(spark):
    # 90-day span exceeds the 31-day day-enumeration cap → month predicates
    pred = partition_predicate(ts(1), ts(4), columns("year", "month", "day"))
    df = spark.createDataFrame(
        [(2020, 1, 15), (2020, 3, 2), (2020, 6, 1)],
        "year int, month int, day int",
    )
    kept = sorted((r["month"]) for r in df.filter(pred).collect())
    assert kept == [1, 3]  # June pruned; day column unused (cap)


def test_hour_enumeration_small_range(spark):
    pred = partition_predicate(
        datetime(2020, 1, 1, 10, tzinfo=timezone.utc),
        datetime(2020, 1, 1, 13, tzinfo=timezone.utc),
        columns("year", "month", "day", "hour"),
    )
    df = spark.createDataFrame(
        [(2020, 1, 1, h) for h in range(24)],
        "year int, month int, day int, hour int",
    )
    kept = sorted(r["hour"] for r in df.filter(pred).collect())
    assert kept == [10, 11, 12]


def test_year_predicate_over_whole_calendar(spark):
    # 9 998 years: an OR of one equality per year overflowed the JVM stack
    pred = partition_predicate(
        datetime(1, 1, 1, tzinfo=timezone.utc),
        datetime(9999, 1, 1, tzinfo=timezone.utc),
        columns("year", "month"),
    )
    df = spark.createDataFrame(
        [(1, 5), (2020, 1), (9998, 12), (9999, 1)], "year int, month int"
    )
    kept = sorted(r["year"] for r in df.filter(pred).collect())
    assert kept == [1, 2020, 9998]  # month beyond its cap; 9999 pruned


def test_range_ending_in_year_9999(spark):
    # the boundary after December 9999 is past datetime's last year
    pred = partition_predicate(
        datetime(9999, 6, 1, tzinfo=timezone.utc),
        datetime(9999, 12, 31, 23, tzinfo=timezone.utc),
        columns("year", "month"),
    )
    df = spark.createDataFrame(
        [(9999, 5), (9999, 6), (9999, 12)], "year int, month int"
    )
    kept = sorted(r["month"] for r in df.filter(pred).collect())
    assert kept == [6, 12]


def test_file_source_partition_pruned_scan(spark, tmp_path):
    base = tmp_path / "ts_part"
    for month, value in [(1, 1.0), (2, 2.0), (3, 3.0)]:
        df = spark.createDataFrame(
            [("s1", datetime(2020, month, 15), value)],
            "`series name` string, ts timestamp, value double",
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            str(base / "year=2020" / f"month={month}")
        )
    source = FileSource(
        spark,
        "t",
        FileSourceOptions(
            path=str(base),
            file_format="parquet",
            timestamp_partition_columns=["year", "month"],
        ),
    )
    data = source.get_data(
        SeriesSelector.from_name("t", "s1"),
        ts(2),
        ts(3),
    )
    rows = data.collect()
    assert [r["value"] for r in rows] == [2.0]
    plan = data._jdf.queryExecution().executedPlan().toString()
    # the enumerated predicates reach PartitionFilters → directory skipping
    assert "PartitionFilters: [" in plan
    assert "month" in plan.split("PartitionFilters")[1][:200]


# ---------------------------------------------------------------------------
# configured-partition enumeration: never prunes an in-range partition
# ---------------------------------------------------------------------------
from datetime import timedelta, timezone as _tz

from hypothesis import given, settings
from hypothesis import strategies as st

_BASE = datetime(2020, 1, 1, tzinfo=_tz.utc)


# formats must not be finer than the resolution: strftime renders the
# *truncated* cursor (reference delta_lake.py:345-348), so e.g. a YEAR
# partition with a "%Y-%m-%d" format would only ever produce Jan 1
_RES_FMT = st.one_of(
    st.tuples(st.just("YEAR"), st.sampled_from([None, "%Y", "%y-year"])),
    st.tuples(st.just("MONTH"), st.sampled_from([None, "%Y-%m"])),
    st.tuples(st.just("DAY"), st.sampled_from([None, "%Y-%m-%d"])),
    st.tuples(st.just("HOUR"), st.just(None)),
)


@given(
    start_off=st.integers(0, 400 * 24),
    span_h=st.integers(1, 1000),
    res_fmt=_RES_FMT,
)
@settings(max_examples=200, deadline=None)
def test_partition_values_cover_range(spark, start_off, span_h, res_fmt):
    res, fmt = res_fmt
    start = _BASE + timedelta(hours=start_off)
    end = start + timedelta(hours=span_h)
    pred = partition_predicate(
        start, end, [{"key": res, "column": "p", "format": fmt}]
    )
    if pred is None:
        # only permissible when the span exceeds the enumeration cap
        caps = {
            "MONTH": timedelta(days=366),
            "DAY": timedelta(days=31),
            "HOUR": timedelta(hours=24),
        }
        assert res in caps and end - start > caps[res]
        return
    # every sampled in-range instant's partition value must be listed
    expected = set()
    probe = start
    while probe < end:
        if fmt is not None:
            value = probe.strftime(fmt)
        elif res == "YEAR":
            value = probe.strftime("%Y")
        elif res == "MONTH":
            value = str(probe.month)
        elif res == "DAY":
            value = str(probe.day)
        else:
            value = str(probe.hour)
        expected.add(value)
        probe += timedelta(minutes=137)
    # boundary instants: the last in-range microsecond
    last = end - timedelta(microseconds=1)
    if fmt is not None:
        expected.add(last.strftime(fmt))
    # a VALUES table is a local relation: the filter runs without a job
    values = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"('{v}')" for v in sorted(expected))
        + " AS t(p)"
    )
    listed = {r["p"] for r in values.filter(pred).collect()}
    assert listed == expected, (res, fmt, expected - listed)

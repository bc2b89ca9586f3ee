"""Regression tests for the review-found operator bugs."""

from datetime import datetime, timezone

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kukur_spark.operators.asof import asof_join
from kukur_spark.operators.dedup import minhash_lsh_pairs
from kukur_spark.operators.partitions import partition_predicate
from kukur_spark.timeutil import epoch_ns, epoch_us


def utc(*args):
    return datetime(*args, tzinfo=timezone.utc)


# -- partitions: unaligned ranges must not drop the final partition --------
def _kept(spark, start, end, columns, rows):
    """The partition ``rows`` (tuples over ``columns``, int columns) that
    the predicate for ``[start, end)`` keeps."""
    pred = partition_predicate(
        start, end, [{"key": c, "type": T.IntegerType()} for c in columns]
    )
    df = spark.createDataFrame(rows, ", ".join(f"{c} int" for c in columns))
    return sorted(tuple(r) for r in df.filter(pred).collect())


def test_enumerate_unaligned_hour_range_keeps_final_partition(spark):
    hours = _kept(
        spark,
        utc(2023, 1, 15, 23, 30),
        utc(2023, 1, 16, 0, 30),
        ["year", "month", "day", "hour"],
        [(2023, 1, d, h) for d in (15, 16) for h in range(24)],
    )
    assert {(h[2], h[3]) for h in hours} == {(15, 23), (16, 0)}


def test_enumerate_year_boundary(spark):
    years = _kept(
        spark,
        utc(2023, 12, 20),
        utc(2024, 1, 5),
        ["year"],
        [(y,) for y in range(2021, 2027)],
    )
    assert [y[0] for y in years] == [2023, 2024]


def test_partition_predicates_cover_unaligned_range(spark):
    kept = _kept(
        spark,
        utc(2023, 1, 15, 23, 30),
        utc(2023, 1, 16, 0, 30),
        ["year", "month", "day", "hour"],
        [(2023, 1, 15, 23), (2023, 1, 16, 0), (2023, 1, 16, 5)],
    )
    assert [(k[2], k[3]) for k in kept] == [(15, 23), (16, 0)]


# -- dedup: short documents must not crash under ANSI mode -----------------
def test_minhash_handles_short_and_empty_documents(spark):
    docs = spark.createDataFrame(
        [
            (1, "only two"),
            (2, "only two"),  # exact dup, shorter than shingle size
            (3, ""),
            (4, "a much longer document with plenty of tokens to shingle"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, shingle_size=3, jaccard_threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found  # short exact dups still detected


# -- asof: NULL right values and multi-column atomicity --------------------
def test_asof_null_value_from_matched_row_not_skipped(spark):
    left = spark.createDataFrame([(1, utc(2020, 1, 3))], "k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, utc(2020, 1, 1), 5.0), (1, utc(2020, 1, 2), None)],
        "k long, ts timestamp, value double",
    )
    out = asof_join(left, right, on=["k"]).collect()
    # the true as-of match (Jan 2) has a NULL value; a per-column
    # ignorenulls lookup would wrongly return the stale 5.0
    assert len(out) == 1
    assert out[0]["value"] is None


def test_asof_multi_column_values_come_from_one_row(spark):
    left = spark.createDataFrame([(1, utc(2020, 1, 5))], "k long, ts timestamp")
    right = spark.createDataFrame(
        [
            (1, utc(2020, 1, 1), 1.0, None),
            (1, utc(2020, 1, 2), None, 2.0),
        ],
        "k long, ts timestamp, a double, b double",
    )
    out = asof_join(left, right, on=["k"], value_columns=["a", "b"]).collect()
    # must be the Jan 2 row exactly: (None, 2.0) — not a mix (1.0, 2.0)
    assert (out[0]["a"], out[0]["b"]) == (None, 2.0)


# -- timeutil: exact epochs, UTC policy ------------------------------------
def test_epoch_exact_integers():
    moment = utc(2024, 1, 10, 12, 34, 56, 789123)
    assert epoch_us(moment) == 1704890096789123
    assert epoch_ns(moment) == 1704890096789123000  # no float rounding


def test_naive_datetimes_treated_as_utc():
    naive = datetime(2024, 1, 10, 12, 0, 0)
    aware = utc(2024, 1, 10, 12, 0, 0)
    assert epoch_us(naive) == epoch_us(aware)

"""Skew and distributed-ranking helpers."""

import pytest

from pyspark.sql import functions as F

from kukur_spark.operators.scale import salted_aggregate


@pytest.fixture()
def skewed_df(spark):
    # 90% of rows share one hot key
    hot = spark.range(900).select(
        F.lit("hot").alias("key"), (F.col("id") % 10).cast("double").alias("v")
    )
    cold = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id") % 20).alias("key"),
        F.lit(1.0).alias("v"),
    )
    return hot.unionByName(cold)


def test_salted_aggregate_matches_plain(spark, skewed_df):
    plain = {
        (r["key"]): (r["s"], r["n"], r["mn"], r["mx"])
        for r in skewed_df.groupBy("key")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r["key"]): (r["sum_v"], r["count_v"], r["min_v"], r["max_v"])
        for r in salted_aggregate(
            skewed_df, ["key"], {"v": "sum"} | {}, salt=8
        ).join(
            salted_aggregate(skewed_df, ["key"], {"v": "count"}, salt=8), "key"
        ).join(
            salted_aggregate(skewed_df, ["key"], {"v": "min"}, salt=8), "key"
        ).join(
            salted_aggregate(skewed_df, ["key"], {"v": "max"}, salt=8), "key"
        ).collect()
    }
    assert salted == plain


def test_distributed_ntile_matches_window_ntile(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kukur_spark.operators.scale import distributed_ntile

    df = spark.range(0, 103).select(
        "id", (F.col("id") * 37 % 103).alias("metric")
    )
    got = (
        distributed_ntile(df, 4, ["metric", "id"], "q")
        .orderBy("metric", "id")
        .collect()
    )
    want = (
        df.select(
            "id",
            "metric",
            F.ntile(4).over(Window.orderBy("metric", "id")).alias("q"),
        )
        .orderBy("metric", "id")
        .collect()
    )
    assert [(r["id"], r["q"]) for r in got] == [
        (r["id"], r["q"]) for r in want
    ]


def test_distributed_ntile_supplied_boundaries_match_probe(spark):
    """range_boundaries probes several columns in one job; threading a
    column's boundaries through distributed_ntile must reproduce the
    per-call-probe result exactly (same literals, no probe job)."""
    from pyspark.sql import functions as F

    from kukur_spark.operators.scale import (
        distributed_ntile,
        range_boundaries,
    )

    df = spark.range(0, 211).select(
        "id",
        (F.col("id") * 37 % 211).alias("metric"),
        (F.col("id") * 53 % 97).alias("other"),
    )
    bounds = range_boundaries(df, ["metric", "other"])
    for col in ("metric", "other"):
        probed = (
            distributed_ntile(df, 4, [col, "id"], "q")
            .select("id", "q")
            .orderBy("id")
            .collect()
        )
        supplied = (
            distributed_ntile(
                df, 4, [col, "id"], "q", boundaries=bounds[col]
            )
            .select("id", "q")
            .orderBy("id")
            .collect()
        )
        assert probed == supplied


def test_distributed_ntile_plan_is_bucket_partitioned(spark):
    from pyspark.sql import functions as F

    from kukur_spark.operators.scale import distributed_ntile

    df = spark.range(0, 1000).select(
        "id", (F.col("id") * 7 % 1000).alias("metric")
    )
    plan = (
        distributed_ntile(df, 4, ["metric", "id"], "q")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    ).lower()
    # the data-bearing rank runs per deterministic __pid bucket (hash
    # exchange on __pid, computed as a pure projection from quantile
    # boundary literals — round 6 replaced the localCheckpoint-pinned
    # range repartition), never through a single-partition global
    # window over the full table
    assert "row_number() windowspecdefinition(__pid" in plan, plan
    assert "hashpartitioning(__pid" in plan, plan
    assert "windowspecdefinition(metric" not in plan, plan
    # fault tolerance restored: no lineage-truncating checkpoint scan
    assert "existingrdd" not in plan, plan


def test_keyed_lag_matches_window(spark):
    """keyed_lag must be row-identical to the naive per-key window —
    including across range-partition boundaries (forced small
    partitions) and at each key's global first row (NULL)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kukur_spark.operators.scale import keyed_lag

    rng = random.Random(7)
    rows = [
        (k, i, rng.randrange(10_000))
        for k in ("a", "b", "c")
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k string, seq long, v long")
    naive = df.withColumn(
        "__lag", F.lag("v").over(Window.partitionBy("k").orderBy("seq"))
    )
    fast = keyed_lag(df, ["k"], ["seq"], "v")
    n = {(r["k"], r["seq"]): r["__lag"] for r in naive.collect()}
    f = {(r["k"], r["seq"]): r["__lag"] for r in fast.collect()}
    assert f == n
    assert sum(1 for val in f.values() if val is None) == 3


def test_range_bucket_is_deterministic_and_monotone(spark):
    """__pid is a pure projection: re-instantiating the frame assigns
    identical buckets, and bucket order follows key order (equal keys
    share a bucket)."""
    from pyspark.sql import functions as F

    from kukur_spark.operators.scale import _range_bucket

    df = spark.range(0, 5000).select(
        (F.col("id") * 131 % 997).alias("k"), "id"
    )
    a = {r["id"]: r["__pid"] for r in _range_bucket(df, "k", 16).collect()}
    b = {r["id"]: r["__pid"] for r in _range_bucket(df, "k", 16).collect()}
    assert a == b
    rows = _range_bucket(df, "k", 16).select("k", "__pid").collect()
    assert len({r["__pid"] for r in rows}) > 8  # actually distributed
    by_key = sorted((r["k"], r["__pid"]) for r in rows)
    pids = [p for _, p in by_key]
    assert pids == sorted(pids)  # monotone with key order
    by_k: dict = {}
    for k, p in by_key:
        by_k.setdefault(k, set()).add(p)
    assert all(len(s) == 1 for s in by_k.values())  # ties share a bucket


def test_range_bucket_timestamp_and_empty(spark):
    from datetime import datetime

    from pyspark.sql import functions as F

    from kukur_spark.operators.scale import _range_bucket

    ts = spark.createDataFrame(
        [(datetime(2020, 1, 1 + i % 27, i % 24),) for i in range(500)],
        "ts timestamp",
    )
    rows = _range_bucket(ts, "ts", 16).collect()
    assert len({r["__pid"] for r in rows}) > 8
    empty = spark.createDataFrame([], "v double")
    assert _range_bucket(empty, "v").collect() == []


def test_range_bucket_survives_cache_eviction(spark):
    """VERDICT r5 #5 done-criterion: recomputing a lost/evicted bucketed
    partition lands rows in the SAME buckets.  Simulated by filling the
    lazy cache, dropping every cached block, and forcing a full
    recompute from lineage — rank output must be identical."""
    from pyspark.sql import functions as F

    from kukur_spark.operators.scale import distributed_row_number

    df = spark.range(0, 3000).select(
        (F.col("id") * 37 % 1009).alias("metric"), "id"
    )
    ranked = distributed_row_number(df, ["metric", "id"], "rn")
    first = sorted((r["id"], r["rn"]) for r in ranked.collect())
    spark.catalog.clearCache()  # evict every persisted block
    second = sorted((r["id"], r["rn"]) for r in ranked.collect())
    assert first == second
    # and against the naive single-task window
    from pyspark.sql import Window

    want = sorted(
        (r["id"], r["rn"])
        for r in df.withColumn(
            "rn",
            F.row_number().over(Window.orderBy("metric", "id")).cast("long"),
        ).collect()
    )
    assert first == want

"""Regression tests for the round-5 ADVICE batch: multi-table LSH dim
contract and the range-partition single-materialization guarantee in
operators/scale.
"""

import pyspark.sql.functions as F


def test_multi_table_signatures_dim_contract(spark):
    """Vectors longer than ``dim`` project on their first ``dim``
    components — identical buckets to the truncated vector, and never
    the all-null collapse where every bit is 0."""
    from kukur_spark.operators.similarity import multi_table_signatures

    dim, planes, tables = 4, 3, 2
    base = [
        [1.0, 2.0, 3.0, 4.0],
        [-3.0, 1.5, -0.5, 2.0],
        [10.0, -10.0, 5.0, -5.0],
        [0.25, 0.5, -4.0, 8.0],
    ]
    rows_in = []
    for i, v in enumerate(base):
        rows_in.append((2 * i, v + [99.0, -99.0, 42.0]))  # len 7 > dim
        rows_in.append((2 * i + 1, v))
    df = spark.createDataFrame(
        rows_in, "id long, v array<double>"
    ).select(
        "id",
        multi_table_signatures("v", planes, tables, dim).alias("sig"),
    )
    sigs = {r.id: r.sig for r in df.collect()}
    for i in range(len(base)):
        assert sigs[2 * i] == sigs[2 * i + 1]  # prefix contract
        assert all(s is not None for s in sigs[2 * i])
    # not the all-null collapse: distinct vectors spread across buckets
    zero_sig = [t * (1 << planes) for t in range(tables)]
    assert any(sigs[2 * i] != zero_sig for i in range(len(base)))


def test_keyed_lag_single_range_partitioning(spark):
    """keyed_lag is correct when its two consumers of the bucketed
    frame cannot rely on exchange reuse (AQE off) — the deterministic
    quantile-literal ``__pid`` makes every re-execution agree."""
    from kukur_spark.operators.scale import keyed_lag
    from pyspark.sql import Window

    rows = [
        (k, i, ord(k) * 1000 + i)
        for k in ("a", "b", "c")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k string, o long, v long")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = (
            keyed_lag(df.repartition(13), ["k"], ["o"], "v", "lagv")
            .select("k", "o", "lagv")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    w = Window.partitionBy("k").orderBy("o")
    want = (
        df.select("k", "o", F.lag("v").over(w).alias("lagv")).collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

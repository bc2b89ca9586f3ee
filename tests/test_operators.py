"""Operator semantics tests: plot buckets, as-of join, dedup, similarity,
text analysis.
"""

from datetime import datetime, timezone

import pytest

from pyspark.sql import functions as F

from kukur_spark.operators.asof import asof_join
from kukur_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
)
from kukur_spark.operators.plot import plot_buckets, plot_downsample
from kukur_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from kukur_spark.operators.text import language_id


def ts(day, hour=0):
    return datetime(2020, 1, day, hour, tzinfo=timezone.utc)


START = datetime(2020, 1, 1, tzinfo=timezone.utc)
END = datetime(2020, 1, 5, tzinfo=timezone.utc)


# -- plot ------------------------------------------------------------------
def test_plot_buckets_stats(spark):
    df = spark.createDataFrame(
        [(ts(1), 1.0), (ts(1, 6), 9.0), (ts(2), 4.0), (ts(3), 2.0), (ts(4, 12), 7.0)],
        "ts timestamp, value double",
    )
    stats = plot_buckets(df, START, END, 4).orderBy("bucket").collect()
    assert [r["bucket"] for r in stats] == [0, 1, 2, 3]
    b0 = stats[0]
    assert b0["min_value"] == 1.0 and b0["max_value"] == 9.0
    assert b0["first_value"] == 1.0 and b0["last_value"] == 9.0
    assert b0["n_points"] == 2


def test_plot_downsample_keeps_envelope(spark):
    rows = [(ts(1, h), float(h % 7)) for h in range(24)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    reduced = plot_downsample(df, START, END, 2).collect()
    values = [r["value"] for r in reduced]
    assert 0.0 in values and 6.0 in values  # envelope preserved
    assert len(reduced) <= 8


def test_plot_downsample_input_with_bucket_column(spark):
    """An input column named ``bucket`` must not collide with the
    operator's own bucket id (it used to be an ambiguous reference)."""
    rows = [(ts(1, h), float(h % 7), "s1", -1) for h in range(24)]
    df = spark.createDataFrame(
        rows, "ts timestamp, value double, series string, bucket int"
    )
    plain = plot_downsample(df.drop("bucket"), START, END, 2, ["series"])
    reduced = plot_downsample(df, START, END, 2, ["series"])
    assert reduced.columns == ["series", "ts", "value"]
    assert reduced.collect() == plain.collect()
    stats = plot_buckets(df, START, END, 2).collect()
    assert [r["bucket"] for r in stats] == [0]


def test_plot_window_half_open(spark):
    df = spark.createDataFrame(
        [
            (datetime(2019, 12, 31), -1.0),  # before window
            (ts(4, 23), 5.0),  # in window (last hour)
            (END.replace(tzinfo=None), 9.0),  # exactly at end → excluded
        ],
        "ts timestamp, value double",
    )
    stats = plot_buckets(df, START, END, 4).collect()
    assert len(stats) == 1
    assert stats[0]["bucket"] == 3
    assert stats[0]["max_value"] == 5.0  # neither out-of-window point leaked


# -- as-of join ------------------------------------------------------------
def test_asof_join_backward_match(spark):
    left = spark.createDataFrame(
        [(1, ts(2)), (1, ts(4)), (2, ts(3))], "user long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, ts(1), 10.0), (1, ts(3), 30.0), (2, ts(4), 99.0)],
        "user long, ts timestamp, value double",
    )
    out = asof_join(left, right, on=["user"]).orderBy("user", "ts").collect()
    # user 1 @ day2 → value 10 (day1); user 1 @ day4 → value 30 (day3)
    # user 2 @ day3 → no earlier right row → dropped (inner as-of)
    assert len(out) == 2
    assert out[0]["value"] == 10.0
    assert out[1]["value"] == 30.0


def test_asof_join_exact_match_included(spark):
    left = spark.createDataFrame([(1, ts(3))], "user long, ts timestamp")
    right = spark.createDataFrame(
        [(1, ts(3), 42.0)], "user long, ts timestamp, value double"
    )
    assert asof_join(left, right, on=["user"]).collect()[0]["value"] == 42.0
    assert (
        asof_join(left, right, on=["user"], allow_exact_matches=False).count() == 0
    )


# -- dedup -----------------------------------------------------------------
DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "a"),
    (2, "the quick brown fox jumps over the lazy dog", "a"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat", "a"),  # near dup
    (4, "completely different text about spark engines here", "b"),
    (5, "unrelated words banana apple cherry mango papaya kiwi", "b"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs).collect()
    dup = [r for r in out if r["dup_count"] == 2]
    assert len(dup) == 1 and dup[0]["keep_id"] == 1
    assert len(out) == 4  # 4 distinct texts


def test_minhash_finds_near_dups(spark, docs):
    pairs = minhash_lsh_pairs(
        docs, shingle_size=2, jaccard_threshold=0.3
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found  # exact dup always found
    assert (1, 3) in found or (2, 3) in found  # near dup via banding
    assert all(
        r["jaccard"] == 1.0 for r in pairs if (r["id_a"], r["id_b"]) == (1, 2)
    )


def test_simhash_near_dups(spark, docs):
    pairs = simhash_pairs(docs, max_hamming=20).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    hamming = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert hamming[(1, 2)] == 0  # identical text → identical simhash


# -- similarity ------------------------------------------------------------
@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),  # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),  # close to 2
        (4, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    out = brute_force_topk(
        vectors.filter(F.col("vec_id") == 0), vectors, k=2
    ).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2]
    assert out[0]["cos_sim"] > 0.99


def test_lsh_topk_subset_of_exact(spark, vectors):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(vectors, vectors, k=4).collect()
    }
    approx = lsh_topk(vectors, vectors, k=4, num_planes=4).collect()
    assert all((r["query_id"], r["neighbor_id"]) in exact for r in approx)


def test_ivf_topk_returns_k(spark, vectors):
    out = ivf_topk(
        vectors.filter(F.col("vec_id") == 0),
        vectors,
        k=2,
        num_centroids=3,
        nprobe=3,
    ).collect()
    assert len(out) == 2
    assert out[0]["neighbor_id"] == 1


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "der hund und der mann"),
            (3, "le chat est sur le tapis"),
            (4, "el perro y el gato"),
            (5, "这是的一个测试的"),
            (6, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "zh", 6: "und"}


def test_interval_join_boundaries_and_spanning(spark):
    from kukur_spark.operators.interval_join import interval_join

    events = spark.createDataFrame(
        [(0,), (999,), (1000,), (5000,), (9999,), (10000,)],
        "ts_us long",
    )
    intervals = spark.createDataFrame(
        [
            (1, 1000, 10000),  # half-open: 1000 in, 10000 out; spans bins
            (2, 0, 1000),      # adjacent window
            (3, 5000, 5000),   # empty (end == start) — dropped
            (4, 7000, 6000),   # inverted — dropped
        ],
        "iid long, start_us long, end_us long",
    )
    out = interval_join(
        events, intervals, bin_width_us=1000
    )  # tiny bins force multi-bin interval explosion
    got = sorted((r["iid"], r["ts_us"]) for r in out.collect())
    assert got == [(1, 1000), (1, 5000), (1, 9999), (2, 0), (2, 999)]


def test_interval_join_with_keys(spark):
    from kukur_spark.operators.interval_join import interval_join

    events = spark.createDataFrame(
        [("a", 5), ("b", 5)], "series string, ts_us long"
    )
    intervals = spark.createDataFrame(
        [("a", 0, 10)], "series string, start_us long, end_us long"
    )
    out = interval_join(
        events, intervals, bin_width_us=100, keys=["series"]
    )
    rows = out.collect()
    assert [(r["series"], r["ts_us"]) for r in rows] == [("a", 5)]
    assert out.columns.count("series") == 1


def test_asof_join_directions_and_tolerance(spark):
    from kukur_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 100, 1), ("k", 250, 2), ("k", 1000, 3)],
        "key string, ts long, id int",
    )
    right = spark.createDataFrame(
        [("k", 50, 10.0), ("k", 90, 20.0), ("k", 200, 30.0), ("k", 300, 40.0)],
        "key string, ts long, v double",
    )

    def run(**kw):
        out = asof_join(left, right, on=["key"], **kw)
        return {r["id"]: r["v"] for r in out.collect()}

    assert run(direction="backward") == {1: 20.0, 2: 30.0, 3: 40.0}
    assert run(direction="forward") == {1: 30.0, 2: 40.0}  # id 3 unmatched
    # id 1: backward dist 10 vs forward dist 100 -> backward;
    # id 2: backward dist 50 == forward dist 50 -> tie resolves backward
    assert run(direction="nearest") == {1: 20.0, 2: 30.0, 3: 40.0}
    assert run(direction="nearest", tolerance_us=60) == {1: 20.0, 2: 30.0}


def test_asof_join_exact_match_toggle(spark):
    from kukur_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 200, 1)], "key string, ts long, id int")
    right = spark.createDataFrame(
        [("k", 200, 5.0), ("k", 100, 1.0)], "key string, ts long, v double"
    )
    exact = asof_join(left, right, on=["key"]).collect()
    assert exact[0]["v"] == 5.0
    strict = asof_join(
        left, right, on=["key"], allow_exact_matches=False
    ).collect()
    assert strict[0]["v"] == 1.0
    fwd_strict = asof_join(
        left, right, on=["key"], allow_exact_matches=False,
        direction="forward",
    ).collect()
    assert fwd_strict == []

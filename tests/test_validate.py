"""Data-quality rule engine: semantics + single-pass plan pin."""

from __future__ import annotations

from pyspark.sql import functions as F

from kukur_spark.operators import validate as V
from kukur_spark.workloads import QUERIES

SF = "/root/testdata/sf0.001"


def test_rule_semantics_on_synthetic(spark):
    df = spark.createDataFrame(
        [
            (1, 10.0, "A", "x1"),
            (2, -5.0, "B", "x2"),
            (None, 3.0, "A", "zz"),
            (4, None, "C", "x4"),
            (4, 2.0, "A", "x5"),
        ],
        "id int, v double, cat string, code string",
    )
    ref = spark.createDataFrame([(1,), (2,), (4,)], "rid int")
    rules = [
        V.not_null("id"),
        V.non_negative("v"),
        V.in_range("v", 0.0, 5.0),
        V.in_set("cat", ["A", "B"]),
        V.unique("id"),
        V.foreign_key(["id"], ref, ["rid"]),
    ]
    got = {
        r.rule: (r.n_violations, r.passed)
        for r in V.validate(df, rules).collect()
    }
    assert got["not_null(id)"] == (1, False)
    assert got["non_negative(v)"] == (2, False)  # -5.0 and the null
    assert got["in_range(v,0.0,5.0)"] == (3, False)  # -5, 10, null
    assert got["in_set(cat)"] == (1, False)  # C
    assert got["unique(id)"] == (1, False)  # duplicate 4
    # null id rows are orphans too (left_anti keeps them)
    assert got["foreign_key(id)"] == (1, False)


def test_scalar_rules_fuse_into_one_scan(spark):
    df = QUERIES["lineitem_quality_report"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # 7 rules, but lineitem is scanned once for the 5 scalar rules,
    # once for unique, once per FK side: <= 4 scans total, never 7+
    assert plan.count("FileScan parquet") <= 4


def test_quality_report_findings(spark):
    rows = {r.rule: r for r in QUERIES["lineitem_quality_report"](spark, SF).collect()}
    assert len(rows) == 7
    # the synthetic testdata is clean on every contract except one: the
    # generator reuses line numbers, and the report catches it
    for rule, r in rows.items():
        if rule.startswith("unique"):
            assert not r.passed
        else:
            assert r.passed, rule
    from kukur_spark.io import load_table

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber"
    ).collect()
    keys = [(r.l_orderkey, r.l_linenumber) for r in li]
    expected_dups = len(keys) - len(set(keys))
    assert rows["unique(l_orderkey,l_linenumber)"].n_violations == expected_dups

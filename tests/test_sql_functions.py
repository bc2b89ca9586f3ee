"""The ku_* SQL function surface matches the engine's own semantics."""

from __future__ import annotations

import hashlib
import math

import pytest

from pyspark.sql import functions as F

from kukur_spark.base import SeriesSelector
from kukur_spark.sql_functions import register_sql_functions


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_sql_functions(spark)


def test_bucket_matches_plot_operator_math(spark):
    row = spark.sql(
        "SELECT ku_bucket(timestamp'2024-01-01 00:59:59.999999',"
        " timestamp'2024-01-01', 600000000) AS b,"
        " ku_bucket(timestamp'2024-01-01 01:00:00',"
        " timestamp'2024-01-01', 600000000) AS b2"
    ).first()
    assert (row.b, row.b2) == (5, 6)


def test_md5_long_matches_operator(spark):
    """``ku_md5_long`` is built from ``md5_long_sql``, so check it against
    an independent reference: the first 15 hex digits of hashlib's md5."""
    texts = ["abc", "", "tok 1", "ünïcode"]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [r.h for r in df.select(F.expr("ku_md5_long(s)").alias("h")).collect()]
    want = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in texts]
    assert got == want


def test_selector_name_round_trip(spark):
    sel = SeriesSelector(
        "src", {"location": "Antwerp", "plant": "P1"}, "product"
    )
    row = spark.sql(
        "SELECT ku_selector_name(map('location', 'Antwerp',"
        " 'plant', 'P1'), 'product') AS name"
    ).first()
    assert row.name == "location=Antwerp,plant=P1::product"
    parsed = SeriesSelector.from_name("src", row.name)
    assert parsed.tags == sel.tags and parsed.field == sel.field

    back = spark.sql(
        f"SELECT ku_selector_tags('{row.name}') AS tags,"
        f" ku_selector_field('{row.name}') AS field"
    ).first()
    assert dict(back.tags) == sel.tags
    assert back.field == "product"


def test_selector_bare_name(spark):
    row = spark.sql(
        "SELECT ku_selector_tags('test-tag-1') AS tags,"
        " ku_selector_field('test-tag-1') AS field,"
        " ku_selector_name(map('series name', 's1'), 'value') AS simple"
    ).first()
    assert dict(row.tags) == {"series name": "test-tag-1"}
    assert row.field == "value"
    # a sole 'series name' tag renders as the bare value — matching
    # base._format_name and the reference's SeriesSelector.name
    assert row.simple == "s1"


def test_selector_name_series_name_first_when_mixed(spark):
    row = spark.sql(
        "SELECT ku_selector_name("
        "map('location', 'Antwerp', 'series name', 's1'), 'value') AS n,"
        " ku_selector_name(map('series name', 's1'), 'temp') AS nf"
    ).first()
    # reference kukur/base.py:126-142: the series name renders bare and
    # first even when mixed with other tags (reference
    # tests/test_selector.py::test_name_multiple_tags_series_name_first)
    assert row.n == "s1,location=Antwerp"
    assert row.nf == "s1::temp"


def test_opc_good_boundary(spark):
    rows = spark.sql(
        "SELECT q, ku_opc_good(q) AS g FROM VALUES (0), (191), (192),"
        " (255) AS t(q)"
    ).collect()
    assert [(r.q, r.g) for r in rows] == [
        (0, 0), (191, 0), (192, 1), (255, 1)
    ]


def test_haversine_matches_gpx_math(spark):
    # Brussels -> Antwerp ≈ 41.5 km
    row = spark.sql(
        "SELECT ku_haversine_m(50.8503, 4.3517, 51.2194, 4.4025) AS m"
    ).first()
    assert row.m == pytest.approx(41500, rel=0.02)
    # zero distance exactly
    assert (
        spark.sql("SELECT ku_haversine_m(1.0, 2.0, 1.0, 2.0) AS m").first().m
        == 0.0
    )


def test_jaccard_e6_integer_exact(spark):
    row = spark.sql(
        "SELECT ku_jaccard_e6(array('a','b','c'), array('b','c','d')) AS j"
    ).first()
    assert row.j == (2 * 1_000_000) // 4


def test_sql_functions_inline_no_python(spark):
    df = spark.sql(
        "SELECT ku_md5_long(CAST(id AS STRING)) AS h FROM range(10)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_registered_names_stable(spark):
    installed = sorted(
        f.name for f in spark.catalog.listFunctions() if f.name.startswith("ku_")
    )
    assert installed == [
        "ku_bucket",
        "ku_haversine_m",
        "ku_jaccard_e6",
        "ku_md5_long",
        "ku_opc_good",
        "ku_selector_field",
        "ku_selector_name",
        "ku_selector_tags",
    ]


def test_selector_tags_mixed_and_whitespace(spark):
    """Reference from_name parity for the JVM-side parse: a bare comma
    component is the series name even among tagged ones, and the whole
    name is trimmed (reference tests/test_selector.py)."""
    row = spark.sql(
        "SELECT ku_selector_tags(' c,tag-a=a,tag-b=b::field ') AS tags,"
        " ku_selector_field(' c,tag-a=a::field ') AS field,"
        " ku_selector_tags('k=v=w') AS eq_in_value"
    ).first()
    assert dict(row.tags) == {
        "series name": "c", "tag-a": "a", "tag-b": "b"
    }
    assert row.field == "field"
    # '=' inside the value survives (split on the FIRST '=' only)
    assert dict(row.eq_in_value) == {"k": "v=w"}


def test_selector_tags_duplicate_keys_last_win(spark):
    """Repeated keys LAST-WIN like base._parse_name's dict assignment
    (and the reference's SeriesSelector.from_name) — 'a,b' is two bare
    series-name components, 'k=1,k=2' repeats a tag key; neither may
    throw DUPLICATED_MAP_KEY."""
    row = spark.sql(
        "SELECT ku_selector_tags('a,b') AS two_bare,"
        " ku_selector_tags('k=1,k=2') AS repeated_tag,"
        " ku_selector_tags('a,k=1,b,k=2::f') AS mixed"
    ).first()
    assert dict(row.two_bare) == dict(
        SeriesSelector.from_name("src", "a,b").tags
    ) == {"series name": "b"}
    assert dict(row.repeated_tag) == dict(
        SeriesSelector.from_name("src", "k=1,k=2").tags
    ) == {"k": "2"}
    assert dict(row.mixed) == dict(
        SeriesSelector.from_name("src", "a,k=1,b,k=2::f").tags
    ) == {"series name": "b", "k": "2"}

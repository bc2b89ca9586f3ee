"""Property-based differential test for the validation rule engine.

``operators/validate.py::violation_predicate`` is the single source of
rule semantics for BOTH report surfaces (``validate()`` and the r14
``expectations_report``), so its per-row truth table is worth pinning
against a pure-Python model over randomized frames — nulls, boundary
values, out-of-vocabulary strings.  One batched Spark job evaluates all
predicates at once per example.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from kukur_spark.operators import validate as V
from kukur_spark.workloads_r14 import expectations_report

# rows: (qty double|null, flag string|null) exercising range + set +
# null + positivity rules on a compact domain rich in boundary values
row_strategy = st.tuples(
    st.one_of(
        st.none(),
        st.sampled_from([-1.0, 0.0, 1.0, 25.0, 50.0, 50.5, 99.0]),
    ),
    st.one_of(st.none(), st.sampled_from(["A", "N", "R", "X", ""])),
)

RULES = [
    ("qty_not_null", V.not_null("qty")),
    ("qty_in_1_50", V.in_range("qty", 1.0, 50.0)),
    ("qty_non_negative", V.non_negative("qty")),
    ("qty_positive", V.positive("qty")),
    ("flag_in_set", V.in_set("flag", ["A", "N", "R"])),
]


def _python_violates(name: str, qty, flag) -> bool:
    if name == "qty_not_null":
        return qty is None
    if name == "qty_in_1_50":
        return qty is None or qty < 1.0 or qty > 50.0
    if name == "qty_non_negative":
        return qty is None or qty < 0
    if name == "qty_positive":
        return qty is None or qty <= 0
    if name == "flag_in_set":
        return flag is None or flag not in ("A", "N", "R")
    raise AssertionError(name)


@given(rows=st.lists(row_strategy, min_size=1, max_size=10))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_violation_predicates_match_python_model(spark, rows):
    df = spark.createDataFrame(rows, "qty double, flag string")
    out = df.select(
        *[
            V.violation_predicate(rule).alias(name)
            for name, rule in RULES
        ]
    ).collect()
    assert len(out) == len(rows)
    got = {
        name: sorted(bool(r[name]) for r in out) for name, _ in RULES
    }
    want = {
        name: sorted(_python_violates(name, q, f) for q, f in rows)
        for name, _ in RULES
    }
    assert got == want


@given(rows=st.lists(row_strategy, min_size=1, max_size=10))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_expectations_report_counts_match_python_model(spark, rows):
    """The grouped report's counts are exactly the predicate model
    summed per group — including groups whose rows all pass."""
    grouped_rows = [
        (i % 2, q, f) for i, (q, f) in enumerate(rows)
    ]
    df = spark.createDataFrame(grouped_rows, "g long, qty double, flag string")
    report = expectations_report(
        df, rules=RULES, group_cols=("g",)
    ).collect()
    got = {(r.g, r.check_name): (r.violations, r.total) for r in report}
    groups = sorted({g for g, _, _ in grouped_rows})
    assert len(got) == len(groups) * len(RULES)
    for g in groups:
        members = [(q, f) for gg, q, f in grouped_rows if gg == g]
        for name, _ in RULES:
            want = sum(_python_violates(name, q, f) for q, f in members)
            assert got[(g, name)] == (want, len(members)), (g, name)


# ---------------------------------------------------------------------------
# manifest_diff: random manifests vs a pure-Python diff model
# ---------------------------------------------------------------------------
manifest_strategy = st.lists(
    st.tuples(
        st.integers(0, 15),  # doc_id — small domain forces overlaps
        st.sampled_from(["web", "code"]),
        # content hash stand-in; None exercises the null-safe compare
        # (md5 of a NULL text) — the Python model's `!=` treats
        # None == None as unchanged, which is the documented invariant
        st.sampled_from(["h1", "h2", "h3", None]),
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda r: r[0],
)


@given(v1=manifest_strategy, v2=manifest_strategy)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_manifest_diff_matches_python_model(spark, v1, v2):
    from kukur_spark.workloads_r14 import manifest_diff

    schema = "doc_id long, source string, h string"
    out = manifest_diff(
        spark.createDataFrame(v1, schema),
        spark.createDataFrame(v2, schema),
    ).collect()
    m1 = {d: (s, h) for d, s, h in v1}
    m2 = {d: (s, h) for d, s, h in v2}
    want = {}
    for d in set(m1) | set(m2):
        # source attribution: v2 wins when present (coalesce(src2, src1))
        src = (m2.get(d) or m1[d])[0]
        a, r, c, u = want.setdefault(src, [0, 0, 0, 0])
        if d not in m1:
            want[src][0] += 1
        elif d not in m2:
            want[src][1] += 1
        elif m1[d][1] != m2[d][1]:
            want[src][2] += 1
        else:
            want[src][3] += 1
    got = {
        row.source: [row.added, row.removed, row.changed, row.unchanged]
        for row in out
    }
    assert got == want
    # ordered output contract
    assert [row.source for row in out] == sorted(got)

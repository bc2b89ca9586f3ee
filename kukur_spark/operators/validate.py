"""Declarative data-quality validation (Deequ-style, DataFrame-native).

A rule set compiles into ONE aggregate pass over the table — every rule
becomes a conditional-sum column, so checking 20 rules on 100 TB costs
one scan with map-side partial aggregation, not 20 scans.  Referential
rules (foreign keys) compile to a broadcast-or-shuffle anti-join count,
the only rule class that genuinely needs a second input.

Rule vocabulary (all JVM column expressions):
- ``not_null(col)`` — null count
- ``unique(cols)`` — rows minus distinct rows over the key
- ``in_range(col, lo, hi)`` — out-of-bounds count (inclusive bounds)
- ``in_set(col, values)`` — out-of-vocabulary count
- ``foreign_key(cols, ref_df, ref_cols)`` — orphaned-row count
- ``non_negative(col)`` — negative count
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    name: str
    kind: str
    columns: Sequence[str]
    args: tuple = ()
    ref: Optional[DataFrame] = dc_field(default=None, compare=False)
    ref_columns: Sequence[str] = ()


def not_null(column: str) -> Rule:
    return Rule(f"not_null({column})", "not_null", (column,))


def unique(*columns: str) -> Rule:
    return Rule(f"unique({','.join(columns)})", "unique", columns)


def in_range(column: str, lo: Any, hi: Any) -> Rule:
    return Rule(
        f"in_range({column},{lo},{hi})", "in_range", (column,), (lo, hi)
    )


def in_set(column: str, values: Sequence[Any]) -> Rule:
    return Rule(
        f"in_set({column})", "in_set", (column,), (tuple(values),)
    )


def non_negative(column: str) -> Rule:
    return Rule(f"non_negative({column})", "non_negative", (column,))


def positive(column: str) -> Rule:
    return Rule(f"positive({column})", "positive", (column,))


def foreign_key(
    columns: Sequence[str], ref: DataFrame, ref_columns: Sequence[str]
) -> Rule:
    return Rule(
        f"foreign_key({','.join(columns)})",
        "foreign_key",
        tuple(columns),
        (),
        ref,
        tuple(ref_columns),
    )


def violation_predicate(rule: Rule) -> Column:
    """Row-level boolean: TRUE when the row violates ``rule``.  Scalar
    rules only — ``unique``/``foreign_key`` are aggregate-shaped.  This
    is the single source of rule semantics shared by :func:`validate`
    and the ``dq_*`` report views (``workloads_r14``): nulls violate
    every value rule (a null can't be proven in-range/in-set)."""
    col = F.col(rule.columns[0]) if rule.columns else None
    if rule.kind == "not_null":
        return col.isNull()
    if rule.kind == "in_range":
        lo, hi = rule.args
        return col.isNull() | (col < lo) | (col > hi)
    if rule.kind == "in_set":
        (values,) = rule.args
        return ~col.isin(list(values)) | col.isNull()
    if rule.kind == "non_negative":
        return col.isNull() | (col < 0)
    if rule.kind == "positive":
        return col.isNull() | (col <= 0)
    raise ValueError(f"unknown rule kind: {rule.kind}")


def _violation_expr(rule: Rule) -> Column:
    return F.sum(F.when(violation_predicate(rule), 1).otherwise(0))


def validate(df: DataFrame, rules: List[Rule]) -> DataFrame:
    """Evaluate ``rules`` against ``df`` → (rule, n_rows, n_violations,
    passed) — scalar rules fused into one aggregate pass."""
    spark = df.sparkSession
    scalar = [r for r in rules if r.kind not in ("unique", "foreign_key")]
    parts: List[DataFrame] = []
    if scalar:
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            _violation_expr(r).cast("long").alias(f"__v{i}")
            for i, r in enumerate(scalar)
        ]
        row = df.agg(*aggs)
        stacked = row.selectExpr(
            "__n",
            "stack({}, {}) AS (rule, n_violations)".format(
                len(scalar),
                ", ".join(
                    f"'{r.name}', __v{i}" for i, r in enumerate(scalar)
                ),
            ),
        ).select(
            "rule", F.col("__n").alias("n_rows"), "n_violations"
        )
        parts.append(stacked)
    for rule in rules:
        if rule.kind == "unique":
            # two-level aggregate, one scan; a NULL key component forms
            # its own group (not a violation) — same as DuckDB's
            # COUNT(DISTINCT (a, b)) over non-null rows
            grouped = df.groupBy(*[F.col(c) for c in rule.columns]).agg(
                F.count(F.lit(1)).alias("__c")
            )
            totals = grouped.agg(
                F.sum("__c").alias("n_rows"),
                F.count(F.lit(1)).alias("n_distinct"),
            ).select(
                F.lit(rule.name).alias("rule"),
                "n_rows",
                (F.col("n_rows") - F.col("n_distinct")).alias(
                    "n_violations"
                ),
            )
            parts.append(totals)
        elif rule.kind == "foreign_key":
            # one scan of each side: left join a marker instead of an
            # anti join plus a separate total count
            ref = rule.ref.select(
                *[
                    F.col(rc).alias(c)
                    for c, rc in zip(rule.columns, rule.ref_columns)
                ]
            ).distinct().withColumn("__hit", F.lit(1))
            joined = df.select(*rule.columns).join(
                ref, list(rule.columns), "left"
            )
            parts.append(
                joined.agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(
                        F.when(F.col("__hit").isNull(), 1).otherwise(0)
                    ).cast("long").alias("n_violations"),
                ).select(
                    F.lit(rule.name).alias("rule"),
                    "n_rows",
                    "n_violations",
                )
            )
    if not parts:
        raise ValueError(
            "validate() needs at least one rule — an empty rule list "
            "would silently report nothing as validated"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn(
        "passed", F.col("n_violations") == 0
    ).orderBy("rule")

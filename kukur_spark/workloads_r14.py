"""Data-quality suite: the validation pass a 100 TB training pipeline
runs before (and after) every ingest — declarative expectations,
referential integrity, key uniqueness, and column profiling, in the
style of public DQ frameworks (AWS Deequ, Great Expectations) but
expressed as pure Catalyst plans.

Beyond-reference surface (the reference engine has no DQ layer); the
point is that quality gating belongs *inside* the engine where the scan
is already paid for.

Relationship to the rest of the DQ stack — one engine, three views:
``operators/validate.py`` owns the rule vocabulary and per-row
violation semantics (``violation_predicate``); the r5
``lineitem_quality_report`` is its pass/fail report (rule, n_rows,
n_violations, passed); this module's ``expectations_report`` is the
grouped view of the SAME predicates (per-check totals, optional group
columns).
Multi-table audits (``dq_referential_integrity``, ``dq_uniqueness``)
generalize the single-table ``foreign_key``/``unique`` rules to
edge/key inventories.  Per-series freshness lives in the r5
``ts_staleness`` query (not duplicated here).

The suite:

- ``dq_expectations`` — N rule violations counted in ONE aggregate over
  one scan (map-side partial agg; the only exchange moves one row), then
  unpivoted with ``stack``.  Adding a rule adds a column to the agg, not
  a pass over the data.
- ``dq_referential_integrity`` — orphan counts per FK edge via left join
  against the distinct parent keys + conditional count.  Dimension-sized
  parents broadcast; fact-sized parents (orders) take one shuffle join —
  the same plan a 1000-executor cluster wants, and AQE picks per-edge.
- ``dq_uniqueness`` — duplicate-key accounting from one hash aggregate
  per candidate key (the unavoidable exact shuffle; production can swap
  ``approx_count_distinct`` for a shuffle-free estimate, kept exact here
  for the oracle).
- ``dq_profile`` — per-column null/distinct/min/max over pruned
  single-column scans (each branch's parquet ReadSchema is one column).
- ``dq_version_diff`` / ``manifest_diff`` — added/removed/changed/
  unchanged between two corpus manifests via one content-hash equi-join
  on the doc key (bucketed manifests join with zero exchange below the
  join — plan-pinned).

Exactness: every metric is a COUNT (bigint in Spark and DuckDB — the
oracles use ``count(*) FILTER`` / ``CAST(sum .. AS BIGINT)`` so no
HUGEINT promotion, see scripts/check_oracle.py) or a min/max cast to
string with identical semantics in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.operators import validate as V
from kukur_spark.registry import register


# ---------------------------------------------------------------------------
# dq_expectations — rule violations over lineitem, one aggregate pass
# ---------------------------------------------------------------------------
def _violation_rules():
    """(report name, ``operators/validate.py`` Rule) pairs — the rule
    SEMANTICS live in one place (``validate.violation_predicate``; the
    r5 ``lineitem_quality_report`` compiles the same vocabulary); this
    module only chooses the rule set and the report shape."""
    return [
        ("l_discount_range_0_0.1", V.in_range("l_discount", 0.0, 0.1)),
        ("l_extendedprice_positive", V.positive("l_extendedprice")),
        ("l_linestatus_in_set", V.in_set("l_linestatus", ["O", "F"])),
        ("l_orderkey_not_null", V.not_null("l_orderkey")),
        ("l_quantity_range_1_50", V.in_range("l_quantity", 1.0, 50.0)),
        ("l_returnflag_in_set", V.in_set("l_returnflag", ["A", "N", "R"])),
        ("l_shipdate_not_null", V.not_null("l_shipdate")),
    ]


def expectations_report(df: DataFrame, rules=None, group_cols=()) -> DataFrame:
    """One-pass rule-violation report over any frame: every rule is a
    conditional count in a single aggregate (map-side combine does the
    data-sized work), unpivoted with ``stack``.  ``group_cols`` splits
    the report (e.g. per partition or per ingest batch) without extra
    passes — it only keys the one aggregate."""
    rules = rules if rules is not None else _violation_rules()
    if not rules:
        # mirror validate(): fail loudly instead of emitting `stack(0, )`
        raise ValueError("expectations_report needs at least one rule")
    aggs = [
        F.count(F.when(V.violation_predicate(rule), True)).alias(f"v{i}")
        for i, (_, rule) in enumerate(rules)
    ]
    grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
    wide = grouped.agg(*aggs, F.count(F.lit(1)).alias("total"))
    stack_args = ", ".join(
        f"'{name}', v{i}" for i, (name, _) in enumerate(rules)
    )
    return wide.select(
        *group_cols,
        F.expr(
            f"stack({len(rules)}, {stack_args}) as (check_name, violations)"
        ),
        F.col("total"),
    ).orderBy(*group_cols, "check_name")


def dq_expectations(spark: SparkSession, sf: str) -> DataFrame:
    return expectations_report(load_table(spark, sf, "lineitem"))


_EXPECTATIONS_SQL = """
WITH agg AS (
    SELECT
        count(*) FILTER (WHERE l_discount IS NULL OR l_discount < 0
                         OR l_discount > 0.1)                  AS v_disc,
        count(*) FILTER (WHERE l_extendedprice IS NULL
                         OR l_extendedprice <= 0)              AS v_price,
        count(*) FILTER (WHERE l_linestatus IS NULL
                         OR l_linestatus NOT IN ('O', 'F'))    AS v_status,
        count(*) FILTER (WHERE l_orderkey IS NULL)             AS v_okey,
        count(*) FILTER (WHERE l_quantity IS NULL OR l_quantity < 1
                         OR l_quantity > 50)                   AS v_qty,
        count(*) FILTER (WHERE l_returnflag IS NULL
                         OR l_returnflag NOT IN ('A', 'N', 'R')) AS v_flag,
        count(*) FILTER (WHERE l_shipdate IS NULL)             AS v_ship,
        count(*)                                               AS total
    FROM lineitem
)
SELECT check_name, violations, total FROM (
    SELECT 'l_discount_range_0_0.1'  AS check_name, v_disc  AS violations, total FROM agg
    UNION ALL
    SELECT 'l_extendedprice_positive', v_price, total FROM agg
    UNION ALL
    SELECT 'l_linestatus_in_set',     v_status, total FROM agg
    UNION ALL
    SELECT 'l_orderkey_not_null',     v_okey,  total FROM agg
    UNION ALL
    SELECT 'l_quantity_range_1_50',   v_qty,   total FROM agg
    UNION ALL
    SELECT 'l_returnflag_in_set',     v_flag,  total FROM agg
    UNION ALL
    SELECT 'l_shipdate_not_null',     v_ship,  total FROM agg
)
ORDER BY check_name
"""

register("dq_expectations", dq_expectations, _EXPECTATIONS_SQL)


# ---------------------------------------------------------------------------
# dq_referential_integrity — orphan counts per FK edge
# ---------------------------------------------------------------------------
_FK_EDGES = [
    # (edge label, child table, child key, parent table, parent key)
    ("customer.c_nationkey->nation.n_nationkey",
     "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders.o_orderkey",
     "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey",
     "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey",
     "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer.c_custkey",
     "orders", "o_custkey", "customer", "c_custkey"),
]


def dq_referential_integrity(spark: SparkSession, sf: str) -> DataFrame:
    parts = []
    for label, child, ckey, parent, pkey in _FK_EDGES:
        parent_keys = (
            load_table(spark, sf, parent)
            .select(F.col(pkey).alias("__pk"))
            .distinct()
        )
        joined = (
            load_table(spark, sf, child)
            .select(F.col(ckey).alias("__ck"))
            .join(parent_keys, F.col("__ck") == F.col("__pk"), "left")
        )
        parts.append(
            joined.agg(
                F.count(F.lit(1)).alias("child_rows"),
                # a NULL child key matches no parent but is the null
                # rule's business, not an orphan
                F.count(
                    F.when(
                        F.col("__ck").isNotNull() & F.col("__pk").isNull(),
                        True,
                    )
                ).alias("orphans"),
            ).select(
                F.lit(label).alias("fk_edge"), "child_rows", "orphans"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fk_edge")


def _ri_edge_sql(label, child, ckey, parent, pkey):
    return f"""
    SELECT '{label}' AS fk_edge,
           count(*) AS child_rows,
           count(*) FILTER (
               WHERE {ckey} IS NOT NULL AND NOT EXISTS (
                   SELECT 1 FROM {parent} WHERE {pkey} = {ckey}
               )
           ) AS orphans
    FROM {child}
    """


_RI_SQL = (
    "SELECT fk_edge, child_rows, orphans FROM ("
    + " UNION ALL ".join(_ri_edge_sql(*edge) for edge in _FK_EDGES)
    + ") ORDER BY fk_edge"
)

register("dq_referential_integrity", dq_referential_integrity, _RI_SQL)


# ---------------------------------------------------------------------------
# dq_uniqueness — duplicate accounting per candidate key
# ---------------------------------------------------------------------------
_CANDIDATE_KEYS = [
    # (key label, table, [key columns])
    ("customer.c_custkey", "customer", ["c_custkey"]),
    ("documents.doc_id", "documents", ["doc_id"]),
    ("events.event_id", "events", ["event_id"]),
    ("lineitem.(l_orderkey,l_linenumber)", "lineitem",
     ["l_orderkey", "l_linenumber"]),
    ("orders.o_orderkey", "orders", ["o_orderkey"]),
]


def dq_uniqueness(spark: SparkSession, sf: str) -> DataFrame:
    parts = []
    for label, table, keys in _CANDIDATE_KEYS:
        per_key = (
            load_table(spark, sf, table)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        parts.append(
            per_key.agg(
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.coalesce(
                    F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
                )
                .cast("long")
                .alias("dup_rows"),
            ).select(
                F.lit(label).alias("key_name"), "n_rows", "n_keys",
                "dup_rows",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("key_name")


def _uniq_key_sql(label, table, keys):
    key_list = ", ".join(keys)
    return f"""
    SELECT '{label}' AS key_name,
           CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
           count(*) AS n_keys,
           CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT)
               AS dup_rows
    FROM (SELECT count(*) AS c FROM {table} GROUP BY {key_list})
    """


_UNIQ_SQL = (
    "SELECT key_name, n_rows, n_keys, dup_rows FROM ("
    + " UNION ALL ".join(_uniq_key_sql(*k) for k in _CANDIDATE_KEYS)
    + ") ORDER BY key_name"
)

register("dq_uniqueness", dq_uniqueness, _UNIQ_SQL)


# ---------------------------------------------------------------------------
# dq_profile — per-column null/distinct/min/max over documents
# ---------------------------------------------------------------------------
# `text` is deliberately excluded: min/max of multi-KB bodies bloat the
# report; length/token profiling of text lives in text_token_stats.
_PROFILE_COLUMNS = ["doc_id", "lang", "n_chars", "source"]


def dq_profile(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    parts = []
    for col in _PROFILE_COLUMNS:
        # each branch selects one column -> the parquet ReadSchema of
        # each scan is that column alone (pruned profile passes)
        parts.append(
            docs.select(col).agg(
                F.count(F.when(F.col(col).isNull(), True)).alias("nulls"),
                F.countDistinct(col).alias("n_distinct"),
                F.min(col).cast("string").alias("min_str"),
                F.max(col).cast("string").alias("max_str"),
            ).select(
                F.lit(col).alias("column_name"), "nulls", "n_distinct",
                "min_str", "max_str",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


def _profile_col_sql(col):
    return f"""
    SELECT '{col}' AS column_name,
           count(*) FILTER (WHERE {col} IS NULL) AS nulls,
           count(DISTINCT {col}) AS n_distinct,
           CAST(min({col}) AS VARCHAR) AS min_str,
           CAST(max({col}) AS VARCHAR) AS max_str
    FROM documents
    """


_PROFILE_SQL = (
    "SELECT column_name, nulls, n_distinct, min_str, max_str FROM ("
    + " UNION ALL ".join(_profile_col_sql(c) for c in _PROFILE_COLUMNS)
    + ") ORDER BY column_name"
)

register("dq_profile", dq_profile, _PROFILE_SQL)


# ---------------------------------------------------------------------------
# dq_version_diff — corpus snapshot diff (added/removed/changed/unchanged)
# ---------------------------------------------------------------------------
# Two corpus versions are derived deterministically from `documents` so
# the diff has all four classes: v1 lacks doc_id % 97 == 0 (v2 "adds"
# them), v2 lacks doc_id % 101 == 0 ("removed"), and v2 rewrites the
# text of doc_id % 89 == 0 ("changed").  Real pipelines diff two actual
# manifests via ``manifest_diff`` below; the operator shape is the
# same: ONE equi-join on the doc key comparing content hashes — with
# both manifests bucketed by doc_id the join is shuffle-free, and the
# hash (not the text) is what moves.
def manifest_diff(v1: DataFrame, v2: DataFrame) -> DataFrame:
    """Diff two corpus manifests ``(doc_id, source, h)`` — h is the
    content hash.  One full-outer equi-join on the doc key; when both
    manifests are bucketed tables on ``doc_id`` the join reads bucket-
    aligned scans with NO exchange (pinned by
    ``tests/test_r14_operators.py::test_manifest_diff_bucketed_is_shuffle_free``)."""
    left = v1.select(
        F.col("doc_id").alias("id1"),
        F.col("source").alias("src1"),
        F.col("h").alias("h1"),
    )
    right = v2.select(
        F.col("doc_id").alias("id2"),
        F.col("source").alias("src2"),
        F.col("h").alias("h2"),
    )
    diff = left.join(right, F.col("id1") == F.col("id2"), "full_outer")
    return (
        diff.groupBy(
            F.coalesce(F.col("src2"), F.col("src1")).alias("source")
        )
        .agg(
            F.count(F.when(F.col("id1").isNull(), True)).alias("added"),
            F.count(F.when(F.col("id2").isNull(), True)).alias("removed"),
            # null-safe hash compare: a doc present in BOTH versions lands
            # in exactly one of changed/unchanged even when a content hash
            # is NULL (e.g. md5 of a NULL text) — plain <>/= would drop it
            # from every class
            F.count(
                F.when(
                    F.col("id1").isNotNull()
                    & F.col("id2").isNotNull()
                    & ~F.col("h1").eqNullSafe(F.col("h2")),
                    True,
                )
            ).alias("changed"),
            F.count(
                F.when(
                    F.col("id1").isNotNull()
                    & F.col("id2").isNotNull()
                    & F.col("h1").eqNullSafe(F.col("h2")),
                    True,
                )
            ).alias("unchanged"),
        )
        .orderBy("source")
    )


def dq_version_diff(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    v1 = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", "source", F.md5(F.col("text")).alias("h")
    )
    v2 = docs.filter(F.col("doc_id") % 101 != 0).select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("doc_id") % 89 == 0,
                F.concat(F.col("text"), F.lit(" [rev2]")),
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    return manifest_diff(v1, v2)


_VERSION_DIFF_SQL = """
WITH v1 AS (
    SELECT doc_id AS id1, source AS src1, md5(text) AS h1
    FROM documents WHERE doc_id % 97 <> 0
), v2 AS (
    SELECT doc_id AS id2, source AS src2,
           md5(CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]'
                    ELSE text END) AS h2
    FROM documents WHERE doc_id % 101 <> 0
)
SELECT coalesce(src2, src1) AS source,
       count(*) FILTER (WHERE id1 IS NULL) AS added,
       count(*) FILTER (WHERE id2 IS NULL) AS removed,
       count(*) FILTER (WHERE id1 IS NOT NULL AND id2 IS NOT NULL
                        AND h1 IS DISTINCT FROM h2) AS changed,
       count(*) FILTER (WHERE id1 IS NOT NULL AND id2 IS NOT NULL
                        AND h1 IS NOT DISTINCT FROM h2) AS unchanged
FROM v1 FULL OUTER JOIN v2 ON id1 = id2
GROUP BY coalesce(src2, src1)
ORDER BY source
"""

register("dq_version_diff", dq_version_diff, _VERSION_DIFF_SQL)


# ---------------------------------------------------------------------------
# dq_profile_drift — column-stats drift between two corpus versions
# ---------------------------------------------------------------------------
def profile_drift(
    v1: DataFrame, v2: DataFrame, columns
) -> DataFrame:
    """Null-rate and cardinality drift per column between two corpus
    versions — the statistical companion to ``manifest_diff`` (which
    diffs membership) and the version-level complement of
    ``dq_profile``: at 100 TB you gate an ingest not only on rule
    violations but on the *shape* of the data moving (a column whose
    null ppm jumps or whose distinct count collapses is a broken
    upstream even when every row passes its rules).

    One pruned single-column scan per (version, column) — the same
    ReadSchema-pinned pattern as ``dq_profile`` — so each branch reads
    exactly one column; the per-column join moves 4 rows.  All metrics
    are exact integers (ppm via bigint ``div``) so DuckDB reproduces
    them bit-for-bit.
    """
    def per_column(df: DataFrame, col: str, tag: str) -> DataFrame:
        return df.select(col).agg(
            F.expr(
                # widen to DECIMAL(38,0) before the ppm scale-up: at the
                # 100 TB target a column can exceed ~9.2e12 null rows,
                # where BIGINT * 1000000 overflows; decimal div stays
                # exact and still returns BIGINT (ADVICE r9)
                f"CAST(count_if({col} IS NULL) AS DECIMAL(38,0))"
                " * 1000000L div count(*)"
            ).alias(f"null_ppm_{tag}"),
            F.countDistinct(col).alias(f"n_distinct_{tag}"),
        ).select(F.lit(col).alias("column_name"), "*")

    parts = []
    for col in columns:
        joined = per_column(v1, col, "v1").join(
            per_column(v2, col, "v2"), "column_name"
        )
        parts.append(joined)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "column_name",
        "null_ppm_v1",
        "null_ppm_v2",
        (F.col("null_ppm_v2") - F.col("null_ppm_v1")).alias("null_drift_ppm"),
        "n_distinct_v1",
        "n_distinct_v2",
        (F.col("n_distinct_v2") - F.col("n_distinct_v1")).alias(
            "distinct_delta"
        ),
    ).orderBy("column_name")


def dq_profile_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Drift report between the same two deterministic corpus versions
    ``dq_version_diff`` derives (v1 drops doc_id%97==0, v2 drops
    doc_id%101==0 — so cardinalities genuinely differ)."""
    docs = load_table(spark, sf, "documents")
    v1 = docs.filter(F.col("doc_id") % 97 != 0)
    v2 = docs.filter(F.col("doc_id") % 101 != 0)
    return profile_drift(v1, v2, _PROFILE_COLUMNS)


def _drift_col_sql(col):
    return f"""
    SELECT '{col}' AS column_name,
           (SELECT count(*) FILTER (WHERE {col} IS NULL) * 1000000
                // count(*) FROM documents WHERE doc_id % 97 <> 0)
               AS null_ppm_v1,
           (SELECT count(*) FILTER (WHERE {col} IS NULL) * 1000000
                // count(*) FROM documents WHERE doc_id % 101 <> 0)
               AS null_ppm_v2,
           (SELECT count(DISTINCT {col}) FROM documents
                WHERE doc_id % 97 <> 0) AS n_distinct_v1,
           (SELECT count(DISTINCT {col}) FROM documents
                WHERE doc_id % 101 <> 0) AS n_distinct_v2
    """


_PROFILE_DRIFT_SQL = (
    "SELECT column_name, CAST(null_ppm_v1 AS BIGINT) AS null_ppm_v1, "
    "CAST(null_ppm_v2 AS BIGINT) AS null_ppm_v2, "
    "CAST(null_ppm_v2 - null_ppm_v1 AS BIGINT) AS null_drift_ppm, "
    "n_distinct_v1, n_distinct_v2, "
    "CAST(n_distinct_v2 - n_distinct_v1 AS BIGINT) AS distinct_delta FROM ("
    + " UNION ALL ".join(_drift_col_sql(c) for c in _PROFILE_COLUMNS)
    + ") ORDER BY column_name"
)

register("dq_profile_drift", dq_profile_drift, _PROFILE_DRIFT_SQL)


# ---------------------------------------------------------------------------
# dq_profile_drift_sketch — the 100 TB twin of dq_profile_drift
# ---------------------------------------------------------------------------
def profile_drift_sketch(
    v1: DataFrame, v2: DataFrame, columns, hash_fn: str = "md5"
) -> DataFrame:
    """HLL-backed drift report: same shape as :func:`profile_drift`
    but the cardinality column is the portable md5 HyperLogLog estimate
    (``operators/sketch.py``) instead of an exact ``count(DISTINCT)``.

    ``hash_fn`` follows the registry's fast/md5 twin convention:
    ``"md5"`` (default) is the cross-engine-exact oracle form;
    ``"xxhash64"`` swaps in the JVM-native 64-bit hash — same register
    count, same estimate math, ~5x cheaper per row (measured at 1000x:
    the md5 string pipeline costs more CPU than the exact distinct on a
    single box, the xxhash64 form does not) — the hash a production
    deployment runs.

    Why a twin: the exact form is oracle-perfect but each per-column
    distinct is a full-width shuffle of every unique value — at 100 TB
    that is the single most expensive shape in the report.  This form
    replaces it with a (bucket → max rho) aggregate whose exchange
    carries at most 257 rows per (version, column): the null-count and
    the 256 HLL registers ride ONE scan and one keyed aggregation, and
    registers merge with ``max`` so partial aggregation, retries and
    cross-shard rollups are all safe.  Null ppm stays exact (a plain
    conditional count — never the scale problem).

    The sketch machinery — the (bucket, rho) hash split and the
    estimate expression — is the shared ``operators/sketch.py``
    implementation (``hll_split`` / ``hll_estimate_expr``), so the math
    cannot drift from the other HLL surfaces, and the DuckDB oracle
    mirrors it bit-for-bit.
    """
    from kukur_spark.operators.sketch import (
        HLL_M,
        POW2_53,
        hll_estimate_expr,
        hll_split,
    )

    def per_column(df: DataFrame, col: str, tag: str) -> DataFrame:
        bucket, rho = hll_split(F.col("_k"), hash_fn)
        # one pruned single-column scan: nulls land in the NULL bucket
        # (null keys hash to a null bucket under either split), values
        # land in their HLL register
        by_bucket = (
            df.select(F.col(col).cast("string").alias("_k"))
            .select(bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("bucket")
            .agg(
                F.max("rho").alias("rho"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        summary = by_bucket.agg(
            F.sum("n_rows").alias("_total"),
            F.coalesce(
                F.sum(F.when(F.col("bucket").isNull(), F.col("n_rows"))),
                F.lit(0),
            ).alias("_nulls"),
            F.count(F.col("bucket")).alias("_m_nonzero"),
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("bucket").isNotNull(),
                            F.expr(
                                "shiftleft(CAST(1 AS BIGINT),"
                                " CAST(53 - rho AS INT))"
                            ),
                        )
                    ),
                    F.lit(0),
                )
                + (F.lit(HLL_M) - F.count(F.col("bucket"))) * F.lit(POW2_53)
            ).alias("_harmonic"),
        )
        est = hll_estimate_expr(F.col("_m_nonzero"), F.col("_harmonic"))
        return summary.select(
            F.lit(col).alias("column_name"),
            # same DECIMAL(38,0) widening as the exact twin: BIGINT
            # * 1000000 overflows past ~9.2e12 nulls, inside the
            # sketch's advertised 100 TB envelope (ADVICE r9)
            F.expr(
                "CAST(_nulls AS DECIMAL(38,0)) * 1000000L div _total"
            ).alias(f"null_ppm_{tag}"),
            est.cast("long").alias(f"est_distinct_{tag}"),
        )

    parts = []
    for col in columns:
        parts.append(
            per_column(v1, col, "v1").join(
                per_column(v2, col, "v2"), "column_name"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "column_name",
        "null_ppm_v1",
        "null_ppm_v2",
        (F.col("null_ppm_v2") - F.col("null_ppm_v1")).alias("null_drift_ppm"),
        "est_distinct_v1",
        "est_distinct_v2",
        (F.col("est_distinct_v2") - F.col("est_distinct_v1")).alias(
            "distinct_delta_est"
        ),
    ).orderBy("column_name")


def dq_profile_drift_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch twin of ``dq_profile_drift`` over the same two
    deterministic corpus versions."""
    docs = load_table(spark, sf, "documents")
    v1 = docs.filter(F.col("doc_id") % 97 != 0)
    v2 = docs.filter(F.col("doc_id") % 101 != 0)
    return profile_drift_sketch(v1, v2, _PROFILE_COLUMNS)


def _drift_sketch_ver_sql(col: str, mod: int) -> str:
    """One (version, column) HLL summary mirroring per_column above;
    the estimate CASE is the shared ``hll_estimate_case_sql``."""
    from kukur_spark.operators.sketch import (
        HLL_M,
        POW2_53,
        hll_bucket_sql,
        hll_estimate_case_sql,
        hll_rho_sql,
    )

    est = (
        "CAST("
        + hll_estimate_case_sql("m_nonzero", "harmonic")
        + " AS BIGINT)"
    )
    return f"""
    SELECT n_nulls * 1000000 // total_rows AS null_ppm, {est} AS est_distinct
    FROM (
      SELECT SUM(n_rows) AS total_rows,
        COALESCE(SUM(CASE WHEN bucket IS NULL THEN n_rows END), 0)
          AS n_nulls,
        COUNT(bucket) AS m_nonzero,
        CAST(COALESCE(SUM(CASE WHEN bucket IS NOT NULL
              THEN 1::BIGINT << (53 - rho) END), 0)
          + ({HLL_M} - COUNT(bucket)) * {POW2_53} AS BIGINT) AS harmonic
      FROM (
        SELECT bucket, MAX(rho) AS rho, COUNT(*) AS n_rows FROM (
          SELECT
            {hll_bucket_sql('_k')} AS bucket,
            {hll_rho_sql('_k')} AS rho
          FROM (SELECT CAST({col} AS VARCHAR) AS _k FROM documents
                WHERE doc_id % {mod} <> 0)
        ) GROUP BY bucket
      )
    )"""


def _drift_sketch_col_sql(col: str) -> str:
    return f"""
    SELECT '{col}' AS column_name,
      v1.null_ppm AS null_ppm_v1, v2.null_ppm AS null_ppm_v2,
      v1.est_distinct AS est_distinct_v1, v2.est_distinct AS est_distinct_v2
    FROM ({_drift_sketch_ver_sql(col, 97)}) v1,
         ({_drift_sketch_ver_sql(col, 101)}) v2
    """


_PROFILE_DRIFT_SKETCH_SQL = (
    "SELECT column_name, CAST(null_ppm_v1 AS BIGINT) AS null_ppm_v1, "
    "CAST(null_ppm_v2 AS BIGINT) AS null_ppm_v2, "
    "CAST(null_ppm_v2 - null_ppm_v1 AS BIGINT) AS null_drift_ppm, "
    "est_distinct_v1, est_distinct_v2, "
    "CAST(est_distinct_v2 - est_distinct_v1 AS BIGINT) "
    "AS distinct_delta_est FROM ("
    + " UNION ALL ".join(_drift_sketch_col_sql(c) for c in _PROFILE_COLUMNS)
    + ") ORDER BY column_name"
)

register(
    "dq_profile_drift_sketch",
    dq_profile_drift_sketch,
    _PROFILE_DRIFT_SKETCH_SQL,
)

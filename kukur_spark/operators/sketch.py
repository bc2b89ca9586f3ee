"""Distributed cardinality sketches (HyperLogLog) with engine-portable
hashing.

Beyond-reference operator (the reference gateway computes no aggregates at
all — SURVEY §2.4 records only distinct-tag discovery and latest-value
arg_max).  A 100 TB corpus cannot answer "how many distinct tokens per
source" with an exact ``COUNT(DISTINCT …)`` cheaply: the distinct shuffle
carries every unique token.  An HLL sketch carries a fixed 256-register
vector per group instead, registers merge with ``max`` (commutative +
idempotent → safe under partial aggregation, retries and re-aggregation
across rollup levels), and the estimate is a driver-side fold.

Portability contract: the hash is ``md5`` (available and bit-identical in
Spark and DuckDB), split as

- register index  = first 2 hex chars  (p = 8 → m = 256 registers)
- rho input       = next 13 hex chars  (52 bits, fits a signed BIGINT)
- rho             = 53 - bit_length(rem), i.e. leading-zero count of the
                    52-bit remainder + 1; ``bit_length`` is spelled
                    ``length(bin(x))`` in both engines.

Every register value is an exact integer; the harmonic denominator
``sum(2^(53-rho))`` is an exact BIGINT (≤ 2^61), so the oracle comparison
is bit-exact.  The final estimate is one IEEE-double division by a shared
literal constant, evaluated in the same order in both engines, plus the
standard linear-counting small-range correction.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

# 2^53 as an exact double; rho is at most 53.
POW2_53 = 9007199254740992
# alpha_m * m^2 * 2^53 for m=256 (alpha_m * m^2 = 0.7213/(1+1.079/256)*65536
# = 47072.71267120224) folded to one literal so both engines evaluate a
# single double division (no cross-engine multiply-order ambiguity).
ALPHA_MM_POW2_53 = 4.2399330249068963e20

HLL_M = 256  # registers (p = 8)


def hll_split(item: Column, hash_fn: str = "md5") -> tuple[Column, Column]:
    """(register index, rho) for one item.

    ``hash_fn="md5"`` is the portable split documented above
    (bit-identical in DuckDB, the oracle form).  ``hash_fn="xxhash64"``
    is the production split — JVM-native hash, bucket from bits 0-7,
    rho from the disjoint 52 bits above bit 11, same 53-based math —
    for callers that don't need a DuckDB mirror.  xxhash64 of a NULL
    input returns the seed hash (not NULL, unlike md5), so nulls are
    routed to a NULL bucket explicitly under both splits.
    """
    if hash_fn == "xxhash64":
        h = F.when(item.isNotNull(), F.xxhash64(item))
        bucket = h.bitwiseAND(F.lit(255)).cast("int")
        rem = F.shiftrightunsigned(h, 12)
    else:
        h = F.md5(item)
        bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
        rem = F.conv(F.substring(h, 3, 13), 16, 10).cast("long")
    rho = F.when(rem == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(rem))
    )
    return bucket, rho


def hll_rho(item: Column) -> tuple[Column, Column]:
    """(register index, rho) for one item under the portable md5 split."""
    return hll_split(item, "md5")


def hll_estimate_expr(m_nonzero: Column, harmonic: Column) -> Column:
    """The shared estimate: alpha-corrected harmonic mean with the
    standard linear-counting small-range correction (est ≤ 5m/2 and
    empty registers present).  Every HLL surface in the engine derives
    its estimate from THIS expression so the correction logic cannot
    drift between copies."""
    raw_est = F.floor(
        F.lit(ALPHA_MM_POW2_53) / harmonic.cast("double") * F.lit(1.0)
    )
    m_zero = F.lit(HLL_M) - m_nonzero
    lc_est = F.floor(
        F.lit(float(HLL_M))
        * F.log(F.lit(float(HLL_M)) / m_zero.cast("double"))
    )
    return F.when(
        (m_zero > 0) & (raw_est <= F.lit(5 * HLL_M // 2)), lc_est
    ).otherwise(raw_est)


def hll_sketch(
    df: DataFrame, group_cols: List[str], item_col: str
) -> DataFrame:
    """Per-group HLL register summary + exact distinct count.

    Two partial-aggregate shuffles, each with map-side combine:
      1. distinct (group, item-hash) — the only pass that sees items;
      2. (group, bucket) → max(rho) — 256 rows per group on the wire.
    The exact distinct count falls out of pass 1 for free (sum of
    per-bucket distinct counts), so callers can report sketch error
    without a third scan.  At scale you would drop the exact column and
    pass 1 collapses to the same two-level shape with registers only.

    Output: group_cols + m_nonzero, harmonic_num (BIGINT, exact),
    est_distinct (BIGINT, linear-counting corrected), exact_distinct.
    """
    bucket, rho = hll_rho(F.col(item_col))
    hashed = (
        df.select(*group_cols, item_col)
        .distinct()
        .select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
    )
    registers = hashed.groupBy(*group_cols, "bucket").agg(
        F.max("rho").alias("rho"), F.count(F.lit(1)).alias("n_in_bucket")
    )
    summary = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("m_nonzero"),
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - rho AS INT))"))
            + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(POW2_53)
        ).alias("harmonic_num"),
        F.sum("n_in_bucket").alias("exact_distinct"),
    )
    est = hll_estimate_expr(F.col("m_nonzero"), F.col("harmonic_num"))
    return summary.select(
        *group_cols,
        "m_nonzero",
        "harmonic_num",
        est.cast("long").alias("est_distinct"),
        "exact_distinct",
    )


def hll_registers(
    df: DataFrame, key: Column, hash_fn: str = "md5"
) -> DataFrame:
    """Global (bucket, rho) register table for one key expression.

    NO distinct pass: the hash is deterministic per key, so duplicate
    keys land on an identical (bucket, rho) and the per-bucket ``max``
    — map-side combinable, ≤ m rows per partition on the wire — absorbs
    them for free.  (An exact distinct here would shuffle every unique
    key, the precise cost the sketch exists to avoid.)  Register tables
    merge with a per-bucket ``max`` union — see :func:`hll_estimate`.

    ``hash_fn="xxhash64"`` is the production hash (same twin convention
    as the drift sketch: md5 is the DuckDB-portable oracle form, the
    JVM-native hash is ~5× cheaper per row); register tables built
    under DIFFERENT hashes must never be merged.
    """
    bucket, rho = hll_split(key.cast("string"), hash_fn)
    return (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(regs: DataFrame, name: str) -> DataFrame:
    """1-row BIGINT cardinality estimate from a register table.

    Same harmonic + linear-counting math as :func:`hll_sketch`, with the
    small-range threshold derived from ``HLL_M`` (5m/2)."""
    summary = regs.agg(
        F.count(F.lit(1)).alias("m_nonzero"),
        (
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - rho AS INT))")
            )
            + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(POW2_53)
        ).alias("harmonic_num"),
    )
    est = hll_estimate_expr(F.col("m_nonzero"), F.col("harmonic_num"))
    return summary.select(est.cast("long").alias(name))


def hll_bucket_sql(key: str) -> str:
    """DuckDB mirror of the md5 register-index split in :func:`hll_split`."""
    return f"CAST('0x' || substr(md5({key}), 1, 2) AS INTEGER)"


def hll_rho_sql(key: str) -> str:
    """DuckDB mirror of the md5 rho split in :func:`hll_split`."""
    rem = f"CAST('0x' || substr(md5({key}), 3, 13) AS BIGINT)"
    return f"""CASE
        WHEN {rem} = 0 THEN 53
        ELSE 53 - length(bin({rem}))
      END"""


def hll_registers_sql(src: str, key_expr: str) -> str:
    """DuckDB register-table CTE body mirroring :func:`hll_registers`
    (null keys create no register on either side)."""
    return f"""
  SELECT bucket, MAX(rho) AS rho FROM (
    SELECT
      {hll_bucket_sql('_k')} AS bucket,
      {hll_rho_sql('_k')} AS rho
    FROM (SELECT DISTINCT CAST({key_expr} AS VARCHAR) AS _k FROM {src}
          WHERE {key_expr} IS NOT NULL)
  ) GROUP BY bucket"""


def hll_estimate_case_sql(m_nonzero: str, harmonic: str) -> str:
    """The DuckDB mirror of :func:`hll_estimate_expr`: one CASE
    expression over SQL sub-expressions for the non-empty register
    count and the harmonic denominator.  All SQL oracles derive their
    estimate from THIS helper, term-for-term with the Spark side."""
    raw = f"FLOOR({ALPHA_MM_POW2_53!r} / CAST({harmonic} AS DOUBLE) * 1.0)"
    return f"""CASE
    WHEN ({HLL_M} - {m_nonzero}) > 0
     AND {raw} <= {5 * HLL_M // 2}
    THEN FLOOR({float(HLL_M)!r} * ln({float(HLL_M)!r} / CAST({HLL_M} - {m_nonzero} AS DOUBLE)))
    ELSE {raw}
  END"""


def hll_estimate_sql(regs_cte: str, name: str) -> str:
    """DuckDB estimate-over-registers SELECT mirroring :func:`hll_estimate`."""
    harmonic = (
        f"SUM(1::BIGINT << (53 - rho)) + ({HLL_M} - COUNT(*)) * {POW2_53}"
    )
    case = hll_estimate_case_sql("COUNT(*)", harmonic)
    return f"""
  SELECT CAST({case} AS BIGINT) AS {name} FROM {regs_cte}"""


def hll_sketch_sql(
    table_expr: str, group_cols: List[str], item_expr: str
) -> str:
    """DuckDB oracle mirroring :func:`hll_sketch` term for term."""
    groups = ", ".join(group_cols)
    return f"""
WITH items AS (
  SELECT DISTINCT {groups}, {item_expr} AS _item FROM {table_expr}
),
hashed AS (
  SELECT {groups},
    {hll_bucket_sql('_item')} AS bucket,
    {hll_rho_sql('_item')} AS rho
  FROM items
),
registers AS (
  SELECT {groups}, bucket, MAX(rho) AS rho, COUNT(*) AS n_in_bucket
  FROM hashed GROUP BY {groups}, bucket
),
summary AS (
  SELECT {groups},
    COUNT(*) AS m_nonzero,
    CAST(SUM(1::BIGINT << (53 - rho)) + (256 - COUNT(*)) * {POW2_53} AS BIGINT)
      AS harmonic_num,
    CAST(SUM(n_in_bucket) AS BIGINT) AS exact_distinct
  FROM registers GROUP BY {groups}
)
SELECT {groups}, m_nonzero, harmonic_num,
  CAST({hll_estimate_case_sql('m_nonzero', 'harmonic_num')} AS BIGINT)
    AS est_distinct,
  exact_distinct
FROM summary
"""

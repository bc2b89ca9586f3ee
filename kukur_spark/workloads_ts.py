"""Time-series analytics workloads beyond the reference's fixed pipeline.

The reference (kukur) only scans/filters series (SURVEY.md §2); a
training-data pipeline over sensor streams also needs per-series
statistics, outlier flags, normalization and gap detection. Each query
here is a window/aggregate composition on the long-format ``events``
table, exact-checkable against DuckDB.

Determinism: the same conventions as ``workloads.py`` — decimal-bridged
sums, epoch-microsecond timestamps, scaled-integer ratios (``*_ppm``
columns = parts-per-million as bigint), total orderings via
``(ts, event_id)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table, persist_once
from kukur_spark.registry import register


# ---------------------------------------------------------------------------
# per-series z-score outliers
# ---------------------------------------------------------------------------
def ts_zscore_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Rows more than 2 population standard deviations from the
    per-series mean.

    Mean and variance are derived from decimal-bridged sums of ``v`` and
    ``v*v`` (both engines produce identical bigints), so every double that
    follows is bit-identical cross-engine; the z-score ships as exact ppm.
    One shuffle: the per-series aggregate (broadcast back by the join).
    """
    events = load_table(spark, sf, "events")
    stats = events.groupBy("event_type").agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sum_e6"),
        F.floor(
            F.sum(
                (F.col("value") * F.col("value")).cast("decimal(30,10)")
            )
            * 1_000_000
        ).cast("long").alias("sumsq_e6"),
        F.count(F.lit(1)).alias("n"),
    )
    enriched = events.join(F.broadcast(stats), "event_type")
    mean = F.col("sum_e6").cast("double") / 1e6 / F.col("n")
    var = (
        F.col("sumsq_e6").cast("double") / 1e6 / F.col("n") - mean * mean
    )
    z = (F.col("value") - mean) / F.sqrt(var)
    # var == 0 for a constant series (z undefined → no outliers); the
    # guard avoids ANSI DIVIDE_BY_ZERO, and the null z_ppm fails the
    # filter predicate on both engines
    z_ppm = F.when(var > 0, F.floor(z * 1_000_000).cast("long"))
    return (
        enriched.withColumn("z_ppm", z_ppm)
        .filter(F.abs(F.col("z_ppm")) > 2_000_000)
        .select(
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "value",
            "z_ppm",
        )
        .orderBy("event_type", "ts_us", "event_id")
    )


TS_ZSCORE_SQL = """
WITH stats AS (
  SELECT event_type,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sum_e6,
    CAST(FLOOR(SUM(CAST(value * value AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sumsq_e6,
    COUNT(*) AS n
  FROM events GROUP BY event_type
)
SELECT e.event_type, epoch_us(e.ts) AS ts_us, e.event_id, e.value,
  CASE WHEN CAST(sumsq_e6 AS DOUBLE) / 1e6 / n
            - (CAST(sum_e6 AS DOUBLE) / 1e6 / n) * (CAST(sum_e6 AS DOUBLE) / 1e6 / n) > 0
    THEN CAST(FLOOR((e.value - CAST(sum_e6 AS DOUBLE) / 1e6 / n)
       / sqrt(CAST(sumsq_e6 AS DOUBLE) / 1e6 / n
              - (CAST(sum_e6 AS DOUBLE) / 1e6 / n) * (CAST(sum_e6 AS DOUBLE) / 1e6 / n))
       * 1000000) AS BIGINT) END AS z_ppm
FROM events e JOIN stats USING (event_type)
WHERE ABS(CASE WHEN CAST(sumsq_e6 AS DOUBLE) / 1e6 / n
            - (CAST(sum_e6 AS DOUBLE) / 1e6 / n) * (CAST(sum_e6 AS DOUBLE) / 1e6 / n) > 0
    THEN CAST(FLOOR((e.value - CAST(sum_e6 AS DOUBLE) / 1e6 / n)
       / sqrt(CAST(sumsq_e6 AS DOUBLE) / 1e6 / n
              - (CAST(sum_e6 AS DOUBLE) / 1e6 / n) * (CAST(sum_e6 AS DOUBLE) / 1e6 / n))
       * 1000000) AS BIGINT) END) > 2000000
ORDER BY event_type, ts_us, event_id
"""


# ---------------------------------------------------------------------------
# per-series rate of change (discrete derivative)
# ---------------------------------------------------------------------------
def ts_rate_of_change(spark: SparkSession, sf: str) -> DataFrame:
    """d(value)/dt between consecutive points of each series, in exact
    ppm per second; the window order is totalized by (ts, event_id)."""
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    base = events.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    dv = F.col("value") - F.lag("value").over(w)
    dt_us = F.col("ts_us") - F.lag("ts_us").over(w)
    # dt can be 0 when two samples share a timestamp (rate undefined) —
    # guard before dividing or ANSI mode raises DIVIDE_BY_ZERO
    rate_ppm = F.when(
        dt_us > 0, F.floor(dv * 1e6 / (dt_us.cast("double") / 1e6))
    ).cast("long")
    return (
        base.withColumn("rate_ppm_per_s", rate_ppm)
        .filter(F.col("rate_ppm_per_s").isNotNull())
        .orderBy("event_type", "ts_us", "event_id")
    )


TS_RATE_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value FROM events
),
diffed AS (
  SELECT event_type, ts_us, event_id, value,
    value - LAG(value) OVER w AS dv,
    ts_us - LAG(ts_us) OVER w AS dt_us
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)
)
SELECT event_type, ts_us, event_id, value,
  CAST(FLOOR(dv * 1e6 / (CAST(dt_us AS DOUBLE) / 1e6)) AS BIGINT) AS rate_ppm_per_s
FROM diffed WHERE dv IS NOT NULL AND dt_us > 0
ORDER BY event_type, ts_us, event_id
"""


# ---------------------------------------------------------------------------
# per-series min-max normalization (feature scaling)
# ---------------------------------------------------------------------------
def ts_minmax_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """(v - min) / (max - min) per series, in exact ppm.

    Window min/max need no shuffle beyond the per-series partition; the
    division happens on identical doubles in both engines."""
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type")
    lo, hi = F.min("value").over(w), F.max("value").over(w)
    scaled = F.when(
        hi != lo,
        F.floor((F.col("value") - lo) * 1_000_000 / (hi - lo)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        events.select(
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "value",
            scaled.alias("scaled_ppm"),
        )
        .orderBy("event_type", "ts_us", "event_id")
    )


TS_MINMAX_SQL = """
SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
  CASE WHEN MAX(value) OVER w <> MIN(value) OVER w
    THEN CAST(FLOOR((value - MIN(value) OVER w) * 1000000
              / (MAX(value) OVER w - MIN(value) OVER w)) AS BIGINT)
    ELSE 0 END AS scaled_ppm
FROM events
WINDOW w AS (PARTITION BY event_type)
ORDER BY event_type, ts_us, event_id
"""


# ---------------------------------------------------------------------------
# gap detection
# ---------------------------------------------------------------------------
def ts_gap_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Consecutive-sample gaps longer than 10 minutes per series —
    pure integer arithmetic on epoch microseconds."""
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    base = events.select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    prev = F.lag("ts_us").over(w)
    return (
        base.withColumn("gap_start_us", prev)
        .withColumn("gap_us", F.col("ts_us") - prev)
        .filter(F.col("gap_us") > 10 * 60 * 1_000_000)
        .select(
            "event_type",
            "gap_start_us",
            F.col("ts_us").alias("gap_end_us"),
            "gap_us",
        )
        .orderBy("event_type", "gap_start_us", "gap_end_us")
    )


TS_GAP_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id FROM events
),
diffed AS (
  SELECT event_type,
    LAG(ts_us) OVER (PARTITION BY event_type ORDER BY ts_us, event_id) AS gap_start_us,
    ts_us AS gap_end_us
  FROM base
)
SELECT event_type, gap_start_us, gap_end_us,
  gap_end_us - gap_start_us AS gap_us
FROM diffed
WHERE gap_end_us - gap_start_us > 10 * 60 * 1000000
ORDER BY event_type, gap_start_us, gap_end_us
"""


# ---------------------------------------------------------------------------
# per-series exact percentiles (sort + integer row indexing)
# ---------------------------------------------------------------------------
def ts_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """p50/p90/p99 per series by explicit rank selection.

    ``floor(p * (n - 1)) + 1``-th value in ``(value, event_id)`` order —
    pure integer indexing, no interpolation formula to disagree on."""
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    def pick(p: float):
        idx = F.floor(F.lit(p) * (F.col("n") - 1)) + 1
        return F.max(F.when(F.col("rn") == idx, F.col("value")))

    return (
        ranked.groupBy("event_type")
        .agg(
            pick(0.5).alias("p50"),
            pick(0.9).alias("p90"),
            pick(0.99).alias("p99"),
        )
        .orderBy("event_type")
    )


TS_PERCENTILES_SQL = """
WITH ranked AS (
  SELECT event_type, value,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
  MAX(CASE WHEN rn = FLOOR(CAST(0.5 AS DOUBLE) * (n - 1)) + 1 THEN value END) AS p50,
  MAX(CASE WHEN rn = FLOOR(CAST(0.9 AS DOUBLE) * (n - 1)) + 1 THEN value END) AS p90,
  MAX(CASE WHEN rn = FLOOR(CAST(0.99 AS DOUBLE) * (n - 1)) + 1 THEN value END) AS p99
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# per-series value histogram (fixed-width buckets)
# ---------------------------------------------------------------------------
def ts_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Count per (series, value-decade bucket) — integer-exact."""
    events = load_table(spark, sf, "events")
    return (
        events.groupBy(
            "event_type",
            F.floor(F.col("value") / 10).cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bucket")
    )


TS_HISTOGRAM_SQL = """
SELECT event_type, CAST(FLOOR(value / 10) AS BIGINT) AS bucket,
       COUNT(*) AS n
FROM events
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


# ---------------------------------------------------------------------------
# cross-series Pearson correlation on daily-aligned averages
# ---------------------------------------------------------------------------
def ts_corr_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Correlation between every pair of series, aligned on daily means.

    The alignment grid (per-series daily decimal-bridged mean) makes the
    series comparable; the Pearson terms are computed from exact e6-scaled
    bigints so the final doubles match cross-engine; ships as ppm."""
    events = load_table(spark, sf, "events")
    # integer-exact daily mean: e6-scaled decimal-bridged sum, then bigint
    # division (decimal-division scale rules differ between engines)
    daily = (
        events.groupBy(
            "event_type",
            F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
        )
        .agg(
            F.floor(
                F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000
            ).cast("long").alias("sum_e6"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "event_type",
            "day_us",
            F.expr("sum_e6 div cnt").alias("avg_e6"),
        )
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.day_us") == F.col("b.day_us"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("series_a"),
        F.col("b.event_type").alias("series_b"),
        (F.col("a.avg_e6").cast("double") / 1e6).alias("x"),
        (F.col("b.avg_e6").cast("double") / 1e6).alias("y"),
    )
    agg = pairs.groupBy("series_a", "series_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sum(F.col("x").cast("decimal(30,10)")) * 1_000_000)
        .cast("long").alias("sx_e6"),
        F.floor(F.sum(F.col("y").cast("decimal(30,10)")) * 1_000_000)
        .cast("long").alias("sy_e6"),
        F.floor(
            F.sum((F.col("x") * F.col("y")).cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sxy_e6"),
        F.floor(
            F.sum((F.col("x") * F.col("x")).cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sxx_e6"),
        F.floor(
            F.sum((F.col("y") * F.col("y")).cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("syy_e6"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx_e6").cast("double") / 1e6
    sy = F.col("sy_e6").cast("double") / 1e6
    sxy = F.col("sxy_e6").cast("double") / 1e6
    sxx = F.col("sxx_e6").cast("double") / 1e6
    syy = F.col("syy_e6").cast("double") / 1e6
    den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
    r = (n * sxy - sx * sy) / F.sqrt(den2)
    # Pearson r is undefined when either series is constant on the shared
    # grid (denominator 0); drop those pairs instead of dividing by zero
    return (
        agg.filter(den2 > 0)
        .select(
            "series_a",
            "series_b",
            "n",
            F.floor(r * 1_000_000).cast("long").alias("r_ppm"),
        )
        .orderBy("series_a", "series_b")
    )


TS_CORR_SQL = """
WITH daily AS (
  SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      // COUNT(*) AS avg_e6
  FROM events GROUP BY event_type, day_us
),
pairs AS (
  SELECT a.event_type AS series_a, b.event_type AS series_b,
    CAST(a.avg_e6 AS DOUBLE) / 1e6 AS x,
    CAST(b.avg_e6 AS DOUBLE) / 1e6 AS y
  FROM daily a JOIN daily b
    ON a.day_us = b.day_us AND a.event_type < b.event_type
),
agg AS (
  SELECT series_a, series_b, COUNT(*) AS n,
    CAST(FLOOR(SUM(CAST(x AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sx_e6,
    CAST(FLOOR(SUM(CAST(y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sy_e6,
    CAST(FLOOR(SUM(CAST(x * y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sxy_e6,
    CAST(FLOOR(SUM(CAST(x * x AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sxx_e6,
    CAST(FLOOR(SUM(CAST(y * y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS syy_e6
  FROM pairs GROUP BY series_a, series_b
)
SELECT series_a, series_b, n,
  CAST(FLOOR(
    (CAST(n AS DOUBLE) * (CAST(sxy_e6 AS DOUBLE) / 1e6)
     - (CAST(sx_e6 AS DOUBLE) / 1e6) * (CAST(sy_e6 AS DOUBLE) / 1e6))
    / sqrt((CAST(n AS DOUBLE) * (CAST(sxx_e6 AS DOUBLE) / 1e6)
            - (CAST(sx_e6 AS DOUBLE) / 1e6) * (CAST(sx_e6 AS DOUBLE) / 1e6))
           * (CAST(n AS DOUBLE) * (CAST(syy_e6 AS DOUBLE) / 1e6)
              - (CAST(sy_e6 AS DOUBLE) / 1e6) * (CAST(sy_e6 AS DOUBLE) / 1e6)))
    * 1000000) AS BIGINT) AS r_ppm
FROM agg
WHERE (CAST(n AS DOUBLE) * (CAST(sxx_e6 AS DOUBLE) / 1e6)
       - (CAST(sx_e6 AS DOUBLE) / 1e6) * (CAST(sx_e6 AS DOUBLE) / 1e6))
      * (CAST(n AS DOUBLE) * (CAST(syy_e6 AS DOUBLE) / 1e6)
         - (CAST(sy_e6 AS DOUBLE) / 1e6) * (CAST(sy_e6 AS DOUBLE) / 1e6)) > 0
ORDER BY series_a, series_b
"""


# ---------------------------------------------------------------------------
# lag-1 autocorrelation per series
# ---------------------------------------------------------------------------
def ts_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson autocorrelation of each series with its lag-1 self.

    Same exact-moment machinery as ts_corr_pairs, over (x_t, x_{t-1})
    pairs from a lag window; ships as ppm, undefined-denominator rows
    dropped."""
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    base = events.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.col("value").alias("x"),
    )
    lagged = base.withColumn("y", F.lag("x").over(w)).filter(
        F.col("y").isNotNull()
    )
    agg = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sum(F.col("x").cast("decimal(30,10)")) * 1_000_000)
        .cast("long").alias("sx_e6"),
        F.floor(F.sum(F.col("y").cast("decimal(30,10)")) * 1_000_000)
        .cast("long").alias("sy_e6"),
        F.floor(
            F.sum((F.col("x") * F.col("y")).cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sxy_e6"),
        F.floor(
            F.sum((F.col("x") * F.col("x")).cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sxx_e6"),
        F.floor(
            F.sum((F.col("y") * F.col("y")).cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("syy_e6"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx_e6").cast("double") / 1e6
    sy = F.col("sy_e6").cast("double") / 1e6
    sxy = F.col("sxy_e6").cast("double") / 1e6
    sxx = F.col("sxx_e6").cast("double") / 1e6
    syy = F.col("syy_e6").cast("double") / 1e6
    den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
    r = (n * sxy - sx * sy) / F.sqrt(den2)
    return (
        agg.filter(den2 > 0)
        .select(
            "event_type",
            "n",
            F.floor(r * 1_000_000).cast("long").alias("acf1_ppm"),
        )
        .orderBy("event_type")
    )


TS_AUTOCORR_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value AS x FROM events
),
lagged AS (
  SELECT event_type, x,
    LAG(x) OVER (PARTITION BY event_type ORDER BY ts_us, event_id) AS y
  FROM base
),
agg AS (
  SELECT event_type, COUNT(*) AS n,
    CAST(FLOOR(SUM(CAST(x AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sx_e6,
    CAST(FLOOR(SUM(CAST(y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sy_e6,
    CAST(FLOOR(SUM(CAST(x * y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sxy_e6,
    CAST(FLOOR(SUM(CAST(x * x AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sxx_e6,
    CAST(FLOOR(SUM(CAST(y * y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS syy_e6
  FROM lagged WHERE y IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n,
  CAST(FLOOR(
    (CAST(n AS DOUBLE) * (CAST(sxy_e6 AS DOUBLE) / 1e6)
     - (CAST(sx_e6 AS DOUBLE) / 1e6) * (CAST(sy_e6 AS DOUBLE) / 1e6))
    / sqrt((CAST(n AS DOUBLE) * (CAST(sxx_e6 AS DOUBLE) / 1e6)
            - (CAST(sx_e6 AS DOUBLE) / 1e6) * (CAST(sx_e6 AS DOUBLE) / 1e6))
           * (CAST(n AS DOUBLE) * (CAST(syy_e6 AS DOUBLE) / 1e6)
              - (CAST(sy_e6 AS DOUBLE) / 1e6) * (CAST(sy_e6 AS DOUBLE) / 1e6)))
    * 1000000) AS BIGINT) AS acf1_ppm
FROM agg
WHERE (CAST(n AS DOUBLE) * (CAST(sxx_e6 AS DOUBLE) / 1e6)
       - (CAST(sx_e6 AS DOUBLE) / 1e6) * (CAST(sx_e6 AS DOUBLE) / 1e6))
      * (CAST(n AS DOUBLE) * (CAST(syy_e6 AS DOUBLE) / 1e6)
         - (CAST(sy_e6 AS DOUBLE) / 1e6) * (CAST(sy_e6 AS DOUBLE) / 1e6)) > 0
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# exponentially weighted moving average (bounded trailing window)
# ---------------------------------------------------------------------------
def ts_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA over the trailing 8 samples per series (alpha = 0.3).

    s_1 = x_1; s_i = alpha*x_i + (1-alpha)*s_{i-1}, folded over the
    window-collected list — the recursion is a per-row bounded fold, so
    it distributes (no cross-partition sequential state), and the same
    expression tree runs in DuckDB's list_reduce for an exact match."""
    events = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-7, 0)
    )
    base = events.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    xs = F.collect_list("value").over(w)
    ewma = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(xs, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return (
        base.withColumn("xs", xs)
        .withColumn("ewma_e6", F.floor(ewma * 1_000_000).cast("long"))
        .select("event_type", "ts_us", "event_id", "value", "ewma_e6")
        .orderBy("event_type", "ts_us", "event_id")
    )


TS_EWMA_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value FROM events
),
windowed AS (
  SELECT event_type, ts_us, event_id, value,
    list(value) OVER (PARTITION BY event_type ORDER BY ts_us, event_id
                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS xs
  FROM base
)
SELECT event_type, ts_us, event_id, value,
  CAST(FLOOR(list_reduce(xs,
    (acc, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc)
    * 1000000) AS BIGINT) AS ewma_e6
FROM windowed
ORDER BY event_type, ts_us, event_id
"""


# ---------------------------------------------------------------------------
# time-weighted average (the canonical process-historian aggregate)
# ---------------------------------------------------------------------------
def ts_twa(spark: SparkSession, sf: str) -> DataFrame:
    """Daily time-weighted average per series with stepped (sample-and-
    hold) semantics: each sample holds until the next sample in the same
    day, the last sample holds to midnight.

    This is the aggregate the reference can only *delegate* to historians
    that support it server-side (PI summaries); here it is native.  The
    weight is integer microseconds, the value×weight product is an
    IEEE-deterministic double bridged through decimal(30,10), and the
    final division runs on exact bigints — identical bits cross-engine.
    Plan: scan → window lead (one shuffle on (series, day)) → hash agg on
    the same key (no second exchange).
    """
    day = 86_400_000_000
    events = load_table(spark, sf, "events")
    # numerator stays at value·µs scale (≤ ~5e13 for a full day — far from
    # bigint overflow even for large values); the ×1e6 display scaling
    # happens in the final IEEE-deterministic double division.
    # One parameterized spark.sql call: the Column-object form cost ~200
    # py4j round trips (~0.07 s driver latency per construction, measured
    # round 11); the single statement resolves to the identical physical
    # plan (plans/r11 + scripts/plan_diff.py).
    return spark.sql(
        f"""
SELECT event_type, day_us,
       CAST(FLOOR(CAST(num_vus AS DOUBLE) * 1000000
                  / CAST(den_us AS DOUBLE)) AS BIGINT) AS twa_e6,
       den_us, n
FROM (
  SELECT event_type, day_us,
         CAST(FLOOR(SUM(CAST((value * CAST(w_us AS DOUBLE))
                             AS DECIMAL(30,10)))) AS BIGINT) AS num_vus,
         SUM(w_us) AS den_us,
         COUNT(1) AS n
  FROM (
    SELECT *,
           COALESCE(lead(ts_us) OVER (PARTITION BY event_type, day_us
                                      ORDER BY ts_us, event_id),
                    day_us + {day}) - ts_us AS w_us
    FROM (
      SELECT event_type, ts_us, event_id, value,
             ts_us - ts_us % {day} AS day_us
      FROM (SELECT event_type, unix_micros(ts) AS ts_us, event_id, value
            FROM {{events}})
    )
  )
  GROUP BY event_type, day_us
)
ORDER BY event_type, day_us
""",
        events=events,
    )


TS_TWA_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
    epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us
  FROM events
),
weighted AS (
  SELECT event_type, day_us, value,
    COALESCE(
      LEAD(ts_us) OVER (
        PARTITION BY event_type, day_us ORDER BY ts_us, event_id),
      day_us + 86400000000) - ts_us AS w_us
  FROM base
),
agg AS (
  SELECT event_type, day_us,
    CAST(FLOOR(SUM(CAST(value * w_us AS DECIMAL(30,10)))) AS BIGINT)
      AS num_vus,
    CAST(SUM(w_us) AS BIGINT) AS den_us,
    COUNT(*) AS n
  FROM weighted GROUP BY event_type, day_us
)
SELECT event_type, day_us,
  CAST(FLOOR(CAST(num_vus AS DOUBLE) * 1000000 / CAST(den_us AS DOUBLE))
    AS BIGINT) AS twa_e6,
  den_us, n
FROM agg
ORDER BY event_type, day_us
"""


# ---------------------------------------------------------------------------
# PAA + SAX symbolization (time-series representation for ML pipelines)
# ---------------------------------------------------------------------------
def ts_paa_sax(spark: SparkSession, sf: str) -> DataFrame:
    """Piecewise Aggregate Approximation over 64 equal-time segments of
    January 2024, z-normalized per series and symbolized with the SAX
    4-letter Gaussian breakpoints (−0.6745, 0, 0.6745).

    All moments are decimal-bridged bigints, so the doubles derived from
    them (segment mean, series mean/std, z) are bit-identical cross-engine
    and the breakpoint comparisons cannot flip.  Plan: one hash aggregate
    per (series, segment), one tiny per-series aggregate broadcast back —
    two scans, no window, shuffle keyed on at most 64×|series| groups.
    """
    n_seg = 64
    start_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    end_us = 1_706_745_600_000_000  # 2024-02-01 UTC
    span = end_us - start_us
    events = load_table(spark, sf, "events")
    base = events.select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    ).filter((F.col("ts_us") >= start_us) & (F.col("ts_us") < end_us))
    seg = F.least(
        ((F.col("ts_us") - start_us) * n_seg).cast("long") / F.lit(span),
        F.lit(float(n_seg - 1)),
    )
    base = base.withColumn("seg", F.floor(seg).cast("long"))
    segs = base.groupBy("event_type", "seg").agg(
        F.floor(F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000)
        .cast("long")
        .alias("s_sum_e6"),
        F.count(F.lit(1)).alias("s_n"),
    )
    glob = base.groupBy("event_type").agg(
        F.floor(F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000)
        .cast("long")
        .alias("g_sum_e6"),
        F.floor(
            F.sum((F.col("value") * F.col("value")).cast("decimal(30,10)"))
            * 1_000_000
        )
        .cast("long")
        .alias("g_sumsq_e6"),
        F.count(F.lit(1)).alias("g_n"),
    )
    joined = segs.join(F.broadcast(glob), "event_type")
    mean = F.col("g_sum_e6") / 1e6 / F.col("g_n")
    var = F.col("g_sumsq_e6") / 1e6 / F.col("g_n") - mean * mean
    paa = F.col("s_sum_e6") / 1e6 / F.col("s_n")
    z = (paa - mean) / F.sqrt(var)
    z = F.when(var > 0, z)
    symbol = (
        F.when(z.isNull(), F.lit("b"))
        .when(z < -0.6745, F.lit("a"))
        .when(z < 0, F.lit("b"))
        .when(z < 0.6745, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return (
        joined.select(
            "event_type",
            "seg",
            F.floor(paa * 1_000_000).cast("long").alias("paa_e6"),
            F.floor(z * 1_000_000).cast("long").alias("z_ppm"),
            symbol.alias("sax"),
            F.col("s_n").alias("n_points"),
        )
        .orderBy("event_type", "seg")
    )


TS_PAA_SAX_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, value
  FROM events
  WHERE epoch_us(ts) >= 1704067200000000 AND epoch_us(ts) < 1706745600000000
),
segged AS (
  SELECT event_type, value,
    CAST(FLOOR(LEAST(
      CAST((ts_us - 1704067200000000) * 64 AS DOUBLE)
        / (1706745600000000 - 1704067200000000),
      63.0)) AS BIGINT) AS seg
  FROM base
),
segs AS (
  SELECT event_type, seg,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS s_sum_e6,
    COUNT(*) AS s_n
  FROM segged GROUP BY event_type, seg
),
gstats AS (
  SELECT event_type,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS g_sum_e6,
    CAST(FLOOR(SUM(CAST(value * value AS DECIMAL(30,10))) * 1000000)
      AS BIGINT) AS g_sumsq_e6,
    COUNT(*) AS g_n
  FROM segged GROUP BY event_type
),
scored AS (
  SELECT s.event_type, s.seg, s.s_n,
    s.s_sum_e6 / 1e6 / s.s_n AS paa,
    g.g_sum_e6 / 1e6 / g.g_n AS mean,
    g.g_sumsq_e6 / 1e6 / g.g_n
      - (g.g_sum_e6 / 1e6 / g.g_n) * (g.g_sum_e6 / 1e6 / g.g_n) AS var
  FROM segs s JOIN gstats g USING (event_type)
),
zed AS (
  SELECT event_type, seg, s_n, paa,
    CASE WHEN var > 0 THEN (paa - mean) / SQRT(var) END AS z
  FROM scored
)
SELECT event_type, seg,
  CAST(FLOOR(paa * 1000000) AS BIGINT) AS paa_e6,
  CAST(FLOOR(z * 1000000) AS BIGINT) AS z_ppm,
  CASE WHEN z IS NULL THEN 'b'
       WHEN z < -0.6745 THEN 'a'
       WHEN z < 0 THEN 'b'
       WHEN z < 0.6745 THEN 'c'
       ELSE 'd' END AS sax,
  s_n AS n_points
FROM zed
ORDER BY event_type, seg
"""


# ---------------------------------------------------------------------------
# LTTB plot downsampling (parallel variant)
# ---------------------------------------------------------------------------
def ts_lttb(spark: SparkSession, sf: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling to 50 points per series
    over January 2024 — the visually-optimal alternative to min/max plot
    buckets (W2).

    Classic LTTB anchors each triangle on the *previously selected* point,
    a sequential dependency that cannot scale; this is the standard
    parallel variant that anchors on the neighbour buckets' centroids
    instead, which decomposes into one hash aggregate (bucket centroids, a
    few hundred rows broadcast back) plus one per-bucket argmax.  First and
    last buckets keep their first/last raw point, as in the original
    algorithm.  Centroids derive from decimal-bridged bigints, triangle
    areas are IEEE-deterministic doubles of those — exact cross-engine.
    """
    n_b = 50
    start_us = 1_704_067_200_000_000
    end_us = 1_706_745_600_000_000
    span = end_us - start_us
    events = load_table(spark, sf, "events")
    # construction is THREE parameterized spark.sql calls (base, cents,
    # everything after the cache): the selectExpr/join chain form cost
    # ~25 DataFrame ops — one py4j round trip + JVM analysis pass each,
    # ~0.14 s driver latency per construction (measured round 11).  The
    # statements resolve to the identical physical plan (plans/r11 +
    # scripts/plan_diff.py); the split exists only because persist_once
    # must cache the cents DataFrame handle between them.
    base = spark.sql(
        f"""
SELECT *,
  CAST(FLOOR(LEAST(CAST((ts_us - {start_us}) * {n_b} AS DOUBLE)
       / CAST({span} AS DOUBLE), CAST({n_b - 1} AS DOUBLE))) AS BIGINT)
    AS bucket
FROM (
  SELECT event_type, unix_micros(ts) AS ts_us, event_id, value
  FROM {{events}}
)
WHERE ts_us >= {start_us} AND ts_us < {end_us}
""",
        events=events,
    )
    # one aggregate produces the centroids AND the edge-bucket first/last
    # points (struct-ordered argmin/argmax) — no extra scan or window.
    # sum the OFFSET from the window start as decimal(38,0): a raw
    # sum(ts_us) of microsecond epochs (~1.7e15 each) overflows long at
    # ~5 000 rows/bucket — the 30× scale probe hit it.  The decimal sum
    # is overflow-proof; the centroid reconstructs as
    # start + double(sum_dt)/n, bit-identical in both engines (exact
    # integer → nearest double, then one IEEE divide and add).
    pt = "struct(ts_us AS t, event_id AS i, value AS v)"
    cents_sql = f"""
SELECT event_type, bucket,
  SUM(CAST(ts_us - {start_us} AS DECIMAL(38,0))) AS sum_dt,
  CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
    AS sum_val_e6,
  COUNT(1) AS n,
  MIN({pt}) AS first_pt,
  MAX({pt}) AS last_pt
FROM {{base}}
GROUP BY event_type, bucket
"""
    cents = persist_once(spark.sql(cents_sql, base=base))
    # ^ ≤ n_buckets×|series| rows; without the cache every branch
    # (anchors, first, last) re-runs the full scan+aggregate — Spark's
    # ReuseExchange does not fire because column pruning makes each
    # branch's scan structurally different.  The tail statement repeats
    # the cents SUBQUERY TEXT instead of referencing the cached handle:
    # a cached DataFrame passed as a {param} gets wrapped in a fresh View
    # node that defeats the CacheManager's sameResult lookup (measured —
    # the cache was silently bypassed), while a re-parsed identical
    # subquery canonicalizes equal and substitutes InMemoryRelation at
    # every occurrence, exactly like the former DataFrame-object reuse.
    del cents  # the handle exists only to fill/track the cache
    wb = "OVER (PARTITION BY event_type ORDER BY bucket)"
    e6 = "CAST(1000000 AS DOUBLE)"
    area = (
        f"abs((ax_us / {e6} - cx_us / {e6}) * (value - ay)"
        f" - (ax_us / {e6} - CAST(ts_us AS DOUBLE) / {e6}) * (cy - ay))"
    )
    # mid-bucket peaks: per-bucket argmax as a struct-max aggregate
    # (partial+final, map-side combine) instead of a row_number window: no
    # full sort shuffle of the mid rows — the shuffle carries one candidate
    # per (series, bucket) per partition. Negated ts/event_id fields give
    # the desc-area, asc-ts, asc-id tie order under lexicographic struct
    # max.  The anchors join broadcasts (≤ n_buckets×|series| rows).
    return spark.sql(
        f"""
WITH __cents AS ({cents_sql})
SELECT * FROM (
  SELECT event_type, bucket,
         first_pt.t AS ts_us, first_pt.i AS event_id, first_pt.v AS value
  FROM __cents WHERE bucket = 0
  UNION ALL
  SELECT event_type, bucket, p.t AS ts_us, p.i AS event_id, p.v AS value
  FROM (
    SELECT event_type, bucket,
           MAX(struct(area AS a, -ts_us AS nt, -event_id AS ni,
               ts_us AS t, event_id AS i, value AS v)) AS p
    FROM (
      SELECT /*+ BROADCAST(a) */ b.*, a.ax_us, a.ay, a.cx_us, a.cy,
             coalesce({area}, CAST(-1 AS DOUBLE)) AS area
      FROM (SELECT * FROM {{base}}
            WHERE bucket > 0 AND bucket < {n_b - 1}) b
      JOIN (
        SELECT event_type, bucket,
          {start_us} + lag(CAST(sum_dt AS DOUBLE)) {wb} / lag(n) {wb}
            AS ax_us,
          lag(sum_val_e6) {wb} / {e6} / lag(n) {wb} AS ay,
          {start_us} + lead(CAST(sum_dt AS DOUBLE)) {wb} / lead(n) {wb}
            AS cx_us,
          lead(sum_val_e6) {wb} / {e6} / lead(n) {wb} AS cy
        FROM __cents
      ) a USING (event_type, bucket)
    )
    GROUP BY event_type, bucket
  )
  UNION ALL
  SELECT event_type, bucket,
         last_pt.t AS ts_us, last_pt.i AS event_id, last_pt.v AS value
  FROM __cents WHERE bucket = {n_b - 1}
)
ORDER BY event_type, bucket, ts_us, event_id
""",
        base=base,
    )


TS_LTTB_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
    CAST(FLOOR(LEAST(
      CAST((epoch_us(ts) - 1704067200000000) * 50 AS DOUBLE)
        / CAST(1706745600000000 - 1704067200000000 AS DOUBLE),
      49.0)) AS BIGINT) AS bucket
  FROM events
  WHERE epoch_us(ts) >= 1704067200000000 AND epoch_us(ts) < 1706745600000000
),
cents AS (
  SELECT event_type, bucket,
    SUM(ts_us - 1704067200000000) AS sum_dt,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS sum_val_e6,
    COUNT(*) AS n
  FROM base GROUP BY event_type, bucket
),
anchors AS (
  SELECT event_type, bucket,
    1704067200000000 + CAST(LAG(sum_dt) OVER w AS DOUBLE)
      / LAG(n) OVER w AS ax_us,
    LAG(sum_val_e6) OVER w / 1e6 / LAG(n) OVER w AS ay,
    1704067200000000 + CAST(LEAD(sum_dt) OVER w AS DOUBLE)
      / LEAD(n) OVER w AS cx_us,
    LEAD(sum_val_e6) OVER w / 1e6 / LEAD(n) OVER w AS cy
  FROM cents
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
),
mid AS (
  SELECT b.event_type, b.bucket, b.ts_us, b.event_id, b.value,
    COALESCE(ABS(
      (a.ax_us / 1e6 - a.cx_us / 1e6) * (b.value - a.ay)
      - (a.ax_us / 1e6 - CAST(b.ts_us AS DOUBLE) / 1e6) * (a.cy - a.ay)),
      -1.0) AS area
  FROM base b JOIN anchors a USING (event_type, bucket)
  WHERE b.bucket > 0 AND b.bucket < 49
),
peaks AS (
  SELECT event_type, bucket, ts_us, event_id, value
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY event_type, bucket
      ORDER BY area DESC, ts_us, event_id) AS rn
    FROM mid) WHERE rn = 1
),
firsts AS (
  SELECT event_type, bucket, ts_us, event_id, value
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY ts_us, event_id) AS rn
    FROM base WHERE bucket = 0) WHERE rn = 1
),
lasts AS (
  SELECT event_type, bucket, ts_us, event_id, value
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM base WHERE bucket = 49) WHERE rn = 1
)
SELECT * FROM firsts
UNION ALL SELECT * FROM peaks
UNION ALL SELECT * FROM lasts
ORDER BY event_type, bucket, ts_us, event_id
"""


# ---------------------------------------------------------------------------
# hour-of-day seasonal profile
# ---------------------------------------------------------------------------
def ts_seasonal_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series hour-of-day baseline: mean and sample count for each of
    the 24 civil hours, plus the deviation of each hour from the series'
    all-hours mean in exact ppm.

    A single hash aggregate on (series, hour) — 24×|series| groups — plus
    a per-series rollup derived from those partials (no second scan).
    This is the profile a monitoring pipeline subtracts to de-season a
    signal before outlier detection.
    """
    hour_us = 3_600_000_000
    events = load_table(spark, sf, "events")
    # explicit FLOOR: DuckDB's double→bigint cast rounds, Spark's
    # truncates — FLOOR makes both engines bucket hour 23.9 as 23
    base = events.select(
        "event_type",
        F.floor((F.unix_micros("ts") % 86_400_000_000) / F.lit(hour_us))
        .cast("long")
        .alias("hour"),
        "value",
    )
    hourly = base.groupBy("event_type", "hour").agg(
        F.floor(F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000)
        .cast("long")
        .alias("sum_e6"),
        F.count(F.lit(1)).alias("n"),
    )
    hourly = persist_once(hourly)  # 24×|series| rows; feeds the per-series
    # rollup and the final projection without re-running the scan
    total = hourly.groupBy("event_type").agg(
        F.sum("sum_e6").alias("t_sum_e6"), F.sum("n").alias("t_n")
    )
    joined = hourly.join(F.broadcast(total), "event_type")
    mean = F.col("sum_e6") / F.col("n")
    t_mean = F.col("t_sum_e6") / F.col("t_n")
    return (
        joined.select(
            "event_type",
            "hour",
            F.floor(mean).cast("long").alias("mean_e6"),
            "n",
            F.floor((mean - t_mean) / t_mean * 1_000_000)
            .cast("long")
            .alias("dev_ppm"),
        )
        .orderBy("event_type", "hour")
    )


TS_SEASONAL_SQL = """
WITH hourly AS (
  SELECT event_type,
    CAST(FLOOR(epoch_us(ts) % 86400000000 / 3600000000) AS BIGINT) AS hour,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS sum_e6,
    COUNT(*) AS n
  FROM events
  GROUP BY event_type,
    CAST(FLOOR(epoch_us(ts) % 86400000000 / 3600000000) AS BIGINT)
),
total AS (
  SELECT event_type, CAST(SUM(sum_e6) AS BIGINT) AS t_sum_e6,
    CAST(SUM(n) AS BIGINT) AS t_n
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, h.hour,
  CAST(FLOOR(h.sum_e6 / h.n) AS BIGINT) AS mean_e6,
  h.n,
  CAST(FLOOR((h.sum_e6 / h.n - t.t_sum_e6 / t.t_n) / (t.t_sum_e6 / t.t_n)
    * 1000000) AS BIGINT) AS dev_ppm
FROM hourly h JOIN total t USING (event_type)
ORDER BY event_type, hour
"""


# ---------------------------------------------------------------------------
# counter-reset correction (monotonic counter → consumption)
# ---------------------------------------------------------------------------
def ts_counter_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Daily consumption from a monotonic-counter reading: per-sample
    delta vs the previous sample, a drop (delta < 0) is a counter reset
    and contributes the post-reset reading instead — the standard
    historian/Prometheus ``increase()`` rule.

    One window (lag per series) + one hash aggregate on (series, day);
    the delta of two identical doubles is IEEE-exact, bridged through
    decimal for the daily sum.
    """
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    base = events.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    prev = F.lag("value").over(w)
    day = 86_400_000_000
    diffed = base.withColumn("delta", F.col("value") - prev).filter(
        F.col("delta").isNotNull()
    )
    corrected = F.when(F.col("delta") < 0, F.col("value")).otherwise(
        F.col("delta")
    )
    return (
        diffed.withColumn("corrected", corrected)
        .withColumn(
            "day_us", F.col("ts_us") - F.col("ts_us") % F.lit(day)
        )
        .groupBy("event_type", "day_us")
        .agg(
            F.floor(
                F.sum(F.col("corrected").cast("decimal(30,10)")) * 1_000_000
            )
            .cast("long")
            .alias("consumed_e6"),
            F.sum(F.when(F.col("delta") < 0, 1).otherwise(0))
            .cast("long")
            .alias("resets"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type", "day_us")
    )


TS_COUNTER_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
    value - LAG(value) OVER (
      PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS delta
  FROM events
),
corrected AS (
  SELECT event_type, ts_us, delta,
    CASE WHEN delta < 0 THEN value ELSE delta END AS corrected
  FROM base WHERE delta IS NOT NULL
)
SELECT event_type,
  ts_us - ts_us % 86400000000 AS day_us,
  CAST(FLOOR(SUM(CAST(corrected AS DECIMAL(30,10))) * 1000000) AS BIGINT)
    AS consumed_e6,
  CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS resets,
  COUNT(*) AS n
FROM corrected
GROUP BY event_type, ts_us - ts_us % 86400000000
ORDER BY event_type, day_us
"""


register("ts_twa", ts_twa, TS_TWA_SQL)
register("ts_paa_sax", ts_paa_sax, TS_PAA_SAX_SQL)
register("ts_lttb", ts_lttb, TS_LTTB_SQL)
register("ts_seasonal_profile", ts_seasonal_profile, TS_SEASONAL_SQL)
register("ts_counter_delta", ts_counter_delta, TS_COUNTER_SQL)
register("ts_zscore_outliers", ts_zscore_outliers, TS_ZSCORE_SQL)
register("ts_rate_of_change", ts_rate_of_change, TS_RATE_SQL)
register("ts_minmax_normalize", ts_minmax_normalize, TS_MINMAX_SQL)
register("ts_gap_detect", ts_gap_detect, TS_GAP_SQL)
register("ts_percentiles", ts_percentiles, TS_PERCENTILES_SQL)
register("ts_value_histogram", ts_value_histogram, TS_HISTOGRAM_SQL)
register("ts_corr_pairs", ts_corr_pairs, TS_CORR_SQL)
register("ts_ewma", ts_ewma, TS_EWMA_SQL)
register("ts_autocorr", ts_autocorr, TS_AUTOCORR_SQL)

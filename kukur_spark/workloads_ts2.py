"""Second batch of beyond-reference analytics workloads.

Rolling-order statistics, change-point detection, trapezoidal integrals,
robust (MAD) outliers over the ``events`` series table, a user-funnel over
the events stream, and one exact Lloyd iteration of k-means over the
``embeddings`` table.  Same determinism conventions as ``workloads_ts.py``:
decimal-bridged sums, epoch-microsecond timestamps, scaled-integer outputs,
total orderings via ``(ts_us, event_id)``.

The reference (kukur) exposes none of these (SURVEY.md §2.4-2.5 — its only
aggregations are series discovery and arg_max); they are the operations a
training-data pipeline runs on sensor/event streams at 100 TB, so every plan
below is a window/aggregate composition that shuffles on the series key once
and keeps per-row state bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.operators.similarity import as_double_sql
from kukur_spark.registry import register


def _base_events(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "events").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )


# ---------------------------------------------------------------------------
# rolling order statistics (trailing nearest-rank median / p90)
# ---------------------------------------------------------------------------
def ts_rolling_quantile(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 20-point rolling median and p90 per series.

    Nearest-rank (ceil(q*n), 1-based on the ascending sort) selection over a
    bounded sliding window: the window carries at most 20 doubles per row, so
    per-row state is O(window), and the whole operator is one shuffle on the
    series key.  Quantile values are actual data points — no interpolation —
    which makes the cross-engine comparison exact.
    """
    base = _base_events(spark, sf)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-19, 0)
    )
    vals = F.array_sort(F.collect_list("value").over(w))
    n = F.size(vals)
    med = F.element_at(vals, F.ceil(n * 0.5).cast("int"))
    p90 = F.element_at(vals, F.ceil(n * 0.9).cast("int"))
    return (
        base.select(
            "event_type",
            "ts_us",
            "event_id",
            "value",
            med.alias("med"),
            p90.alias("p90"),
            n.cast("long").alias("n"),
        )
        .orderBy("event_type", "ts_us", "event_id")
    )


TS_ROLLING_QUANTILE_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value FROM events
),
win AS (
  SELECT event_type, ts_us, event_id, value,
    list(value) OVER (
      PARTITION BY event_type ORDER BY ts_us, event_id
      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
  FROM base
)
SELECT event_type, ts_us, event_id, value,
  list_sort(vals)[CAST(CEIL(len(vals) * 0.5) AS INT)] AS med,
  list_sort(vals)[CAST(CEIL(len(vals) * 0.9) AS INT)] AS p90,
  CAST(len(vals) AS BIGINT) AS n
FROM win
ORDER BY event_type, ts_us, event_id
"""


# ---------------------------------------------------------------------------
# CUSUM change-point detection
# ---------------------------------------------------------------------------
def ts_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Most likely mean-shift point per series via the CUSUM statistic.

    The running deviation-from-mean sum is kept integer-exact by scaling
    through the series count: D_k = n·S_k − k·T (S_k = running decimal sum,
    T = total decimal sum), so the argmax over |D_k| compares exact decimals
    — no float accumulation order can flip the winner.  Plan: one shuffle for
    the per-series totals (broadcast back), one for the running-sum window;
    per-row window state is O(1).
    """
    # Exactness bound: v_dec decimal(17,10) makes the running sum
    # decimal(27,10); counts cast to decimal(9,0) keep each product at
    # precision <= 37 and the difference at <= 38, so no Spark
    # allowPrecisionLoss rounding kicks in and both engines stay exact.
    base = _base_events(spark, sf).withColumn(
        "v_dec", F.col("value").cast("decimal(17,10)")
    )
    totals = base.groupBy("event_type").agg(
        F.sum("v_dec").cast("decimal(27,10)").alias("t_dec"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    run = (
        base.withColumn(
            "s_k",
            F.sum("v_dec").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("k", F.row_number().over(w))
        .join(F.broadcast(totals), "event_type")
        .withColumn(
            "d_k",
            F.col("n").cast("decimal(9,0)") * F.col("s_k")
            - F.col("k").cast("decimal(9,0)") * F.col("t_dec"),
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("d_k")).desc(), F.col("ts_us").asc(), F.col("event_id").asc()
    )
    return (
        run.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("ts_us").alias("changepoint_us"),
            F.floor(
                F.col("d_k").cast("double") / F.col("n") * 1_000_000
            ).cast("long").alias("dev_e6"),
            "n",
        )
        .orderBy("event_type")
    )


TS_CUSUM_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
    CAST(value AS DECIMAL(17,10)) AS v_dec
  FROM events
),
totals AS (
  SELECT event_type, CAST(SUM(v_dec) AS DECIMAL(27,10)) AS t_dec, COUNT(*) AS n
  FROM base GROUP BY event_type
),
run AS (
  SELECT b.event_type, b.ts_us, b.event_id,
    CAST(SUM(v_dec) OVER (
      PARTITION BY b.event_type ORDER BY b.ts_us, b.event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(27,10)) AS s_k,
    ROW_NUMBER() OVER (
      PARTITION BY b.event_type ORDER BY b.ts_us, b.event_id) AS k,
    t.t_dec, t.n
  FROM base b JOIN totals t USING (event_type)
),
dev AS (
  SELECT event_type, ts_us, event_id, n,
    CAST(n AS DECIMAL(9,0)) * s_k - CAST(k AS DECIMAL(9,0)) * t_dec AS d_k
  FROM run
),
ranked AS (
  SELECT event_type, ts_us, n, d_k,
    ROW_NUMBER() OVER (
      PARTITION BY event_type
      ORDER BY ABS(d_k) DESC, ts_us ASC, event_id ASC) AS rk
  FROM dev
)
SELECT event_type, ts_us AS changepoint_us,
  CAST(FLOOR(CAST(d_k AS DOUBLE) / n * 1000000) AS BIGINT) AS dev_e6,
  n
FROM ranked WHERE rk = 1 ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# trapezoidal integral per series per day
# ---------------------------------------------------------------------------
def ts_trapezoid_integral(spark: SparkSession, sf: str) -> DataFrame:
    """Daily area under the linearly-interpolated curve, per series.

    The stepped twin is ``ts_twa`` (hold-to-next weights); this is the LINEAR
    interpolation-type integral (SURVEY.md §1.2 InterpolationType).  Each
    consecutive pair contributes (v_i + v_{i+1})·Δt_us, attributed to the day
    of the left point; the decimal sum is exact, emitted as twice the
    integral in value·µs (avoids the /2 division entirely).  One shuffle for
    the lag window, one partial+final day aggregate.
    """
    base = _base_events(spark, sf)
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    pairs = (
        base.withColumn("next_v", F.lead("value").over(w))
        .withColumn("next_ts", F.lead("ts_us").over(w))
        .filter(F.col("next_v").isNotNull())
        # decimal(17,10) * long -> decimal(38,10) exactly (17+20+1 == 38):
        # no allowPrecisionLoss rounding, matching DuckDB's exact product.
        .withColumn(
            "contrib",
            (
                (F.col("value") + F.col("next_v")).cast("decimal(17,10)")
                * (F.col("next_ts") - F.col("ts_us"))
            ),
        )
    )
    return (
        pairs.groupBy(
            "event_type",
            (F.col("ts_us") - F.col("ts_us") % 86_400_000_000).alias("day_us"),
        )
        .agg(
            F.floor(F.sum("contrib")).cast("long").alias("area2_us"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .orderBy("event_type", "day_us")
    )


TS_TRAPEZOID_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value FROM events
),
pairs AS (
  SELECT event_type, ts_us, value,
    LEAD(value) OVER (
      PARTITION BY event_type ORDER BY ts_us, event_id) AS next_v,
    LEAD(ts_us) OVER (
      PARTITION BY event_type ORDER BY ts_us, event_id) AS next_ts
  FROM base
)
SELECT event_type,
  ts_us - ts_us % 86400000000 AS day_us,
  CAST(FLOOR(SUM(
    CAST(value + next_v AS DECIMAL(17,10)) * (next_ts - ts_us)
  )) AS BIGINT) AS area2_us,
  COUNT(*) AS n_pairs
FROM pairs WHERE next_v IS NOT NULL
GROUP BY event_type, ts_us - ts_us % 86400000000
ORDER BY event_type, day_us
"""


# ---------------------------------------------------------------------------
# robust outliers: median absolute deviation (MAD)
# ---------------------------------------------------------------------------
def ts_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Rows whose deviation from the per-series median exceeds 3×MAD.

    Rank selection (never array materialization): the median is the
    ceil(n/2)-th value in (value, event_id) order; MAD is the same rank over
    |v − med|.  Both are actual data values, so the outlier predicate
    compares identical doubles cross-engine.  Three shuffles on the series
    key (two rank windows + the stats broadcast back); no per-series arrays,
    so a billion-point series still streams.
    """
    base = _base_events(spark, sf)
    counts = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    rank_w = Window.partitionBy("event_type").orderBy("value", "event_id")
    med = (
        base.withColumn("rk", F.row_number().over(rank_w))
        .join(F.broadcast(counts), "event_type")
        .filter(F.col("rk") == F.ceil(F.col("n") * 0.5).cast("int"))
        .select("event_type", F.col("value").alias("med"), "n")
    )
    dev = base.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    dev_w = Window.partitionBy("event_type").orderBy("adev", "event_id")
    mad = (
        dev.withColumn("rk", F.row_number().over(dev_w))
        .filter(F.col("rk") == F.ceil(F.col("n") * 0.5).cast("int"))
        .select("event_type", F.col("adev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 3 * F.col("mad"))
        .select(
            "event_type",
            "ts_us",
            "event_id",
            "value",
            "med",
            "mad",
        )
        .orderBy("event_type", "ts_us", "event_id")
    )


TS_MAD_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value FROM events
),
counts AS (
  SELECT event_type, COUNT(*) AS n FROM base GROUP BY event_type
),
med AS (
  SELECT event_type, value AS med, n FROM (
    SELECT b.event_type, b.value, c.n,
      ROW_NUMBER() OVER (
        PARTITION BY b.event_type ORDER BY b.value, b.event_id) AS rk
    FROM base b JOIN counts c USING (event_type)
  ) WHERE rk = CAST(CEIL(n * 0.5) AS INT)
),
dev AS (
  SELECT b.event_type, b.ts_us, b.event_id, b.value, m.med, m.n,
    ABS(b.value - m.med) AS adev
  FROM base b JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, adev AS mad FROM (
    SELECT event_type, adev, n,
      ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY adev, event_id) AS rk
    FROM dev
  ) WHERE rk = CAST(CEIL(n * 0.5) AS INT)
)
SELECT d.event_type, d.ts_us, d.event_id, d.value, d.med, x.mad
FROM dev d JOIN mad x USING (event_type)
WHERE d.adev > 3 * x.mad
ORDER BY d.event_type, d.ts_us, d.event_id
"""


# ---------------------------------------------------------------------------
# user funnel over the event stream
# ---------------------------------------------------------------------------
def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Strict-order funnel view → click → purchase per user.

    Stage k counts users whose earliest stage-k event is strictly after
    their earliest stage-(k−1) completion.  Expressed as conditional
    aggregation over one user-key shuffle per stage (three total).  The
    per-user stage tables are one row per user — unbounded — so they join
    on user_id via shuffle (AQE may still pick broadcast when the stage
    table is actually small); never a self-join of the raw events.
    Returns one row per stage with the completing-user count and the
    summed conversion lag.
    """
    base = load_table(spark, sf, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    t1 = base.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts_us").alias("t1")
    )
    t2 = (
        base.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts_us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"), F.first("t1").alias("t1"))
    )
    t3 = (
        base.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts_us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"), F.first("t2").alias("t2"))
    )
    s1 = t1.agg(
        F.lit("1_view").alias("stage"),
        F.count(F.lit(1)).alias("users"),
        F.lit(0).cast("long").alias("lag_us_sum"),
    )
    s2 = t2.agg(
        F.lit("2_click").alias("stage"),
        F.count(F.lit(1)).alias("users"),
        F.sum(F.col("t2") - F.col("t1")).alias("lag_us_sum"),
    )
    s3 = t3.agg(
        F.lit("3_purchase").alias("stage"),
        F.count(F.lit(1)).alias("users"),
        F.sum(F.col("t3") - F.col("t2")).alias("lag_us_sum"),
    )
    return s1.unionByName(s2).unionByName(s3).orderBy("stage")


EVENTS_FUNNEL_SQL = """
WITH base AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
),
t1 AS (
  SELECT user_id, MIN(ts_us) AS t1 FROM base
  WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT b.user_id, MIN(b.ts_us) AS t2, MIN(t1.t1) AS t1
  FROM base b JOIN t1 USING (user_id)
  WHERE b.event_type = 'click' AND b.ts_us > t1.t1
  GROUP BY b.user_id
),
t3 AS (
  SELECT b.user_id, MIN(b.ts_us) AS t3, MIN(t2.t2) AS t2
  FROM base b JOIN t2 USING (user_id)
  WHERE b.event_type = 'purchase' AND b.ts_us > t2.t2
  GROUP BY b.user_id
)
SELECT '1_view' AS stage, COUNT(*) AS users,
  CAST(0 AS BIGINT) AS lag_us_sum FROM t1
UNION ALL
SELECT '2_click', COUNT(*), CAST(SUM(t2 - t1) AS BIGINT) FROM t2
UNION ALL
SELECT '3_purchase', COUNT(*), CAST(SUM(t3 - t2) AS BIGINT) FROM t3
ORDER BY stage
"""


# ---------------------------------------------------------------------------
# one exact Lloyd iteration of k-means over embeddings
# ---------------------------------------------------------------------------
def emb_kmeans_step(spark: SparkSession, sf: str) -> DataFrame:
    """Assign every vector to the nearest of 8 seed centroids (L2,
    ties → lowest centroid id) and emit the re-estimated centroids.

    Seeds are the embeddings of vec_id 0..7 — shipped as a broadcast join,
    not driver literals, so the same plan works when k is large.  The
    assignment is an argmin via min_by over an 8-row broadcast cross join;
    re-estimation reuses the posexplode + two-key partial aggregate shape of
    ``emb_centroid_per_label`` (integer-exact e6 means).  One wide shuffle
    total (the (cluster, dim) aggregate); the argmin never shuffles the
    vectors themselves.
    """
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id",
        F.expr(as_double_sql("embedding")).alias("v"),
    )
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assigned = (
        emb.crossJoin(F.broadcast(seeds))
        .withColumn("d2", d2)
        .groupBy("vec_id")
        .agg(
            F.min_by(
                "cluster", F.struct(F.col("d2"), F.col("cluster"))
            ).alias("cluster"),
            F.first("v").alias("v"),
        )
    )
    dims = assigned.select(
        "cluster", F.posexplode("v").alias("pos", "val")
    )
    return (
        dims.groupBy("cluster", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.floor(
                F.sum(F.col("val").cast("decimal(30,10)")) * 1_000_000
            ).cast("long").alias("sum_e6"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "cluster",
            "dim",
            F.expr("sum_e6 div cnt").alias("centroid_e6"),
            F.col("cnt").alias("cluster_n"),
        )
        .orderBy("cluster", "dim")
    )


EMB_KMEANS_SQL = """
WITH emb AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
seeds AS (
  SELECT vec_id AS cluster, v AS cv FROM emb WHERE vec_id < 8
),
scored AS (
  SELECT e.vec_id, s.cluster, e.v,
    list_sum(list_transform(range(1, len(e.v) + 1),
      i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]))) AS d2
  FROM emb e, seeds s
),
assigned AS (
  SELECT vec_id, v, cluster FROM (
    SELECT vec_id, v, cluster,
      ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY d2 ASC, cluster ASC) AS rk
    FROM scored
  ) WHERE rk = 1
),
dims AS (
  SELECT cluster, unnest(generate_series(1, len(v))) AS dim, v
  FROM assigned
)
SELECT cluster, dim,
  CAST(FLOOR(SUM(CAST(v[dim] AS DECIMAL(30,10))) * 1000000) AS BIGINT)
    // COUNT(*) AS centroid_e6,
  COUNT(*) AS cluster_n
FROM dims
GROUP BY cluster, dim
ORDER BY cluster, dim
"""


register("ts_rolling_quantile", ts_rolling_quantile, TS_ROLLING_QUANTILE_SQL)
register("ts_cusum_changepoint", ts_cusum_changepoint, TS_CUSUM_SQL)
register("ts_trapezoid_integral", ts_trapezoid_integral, TS_TRAPEZOID_SQL)
register("ts_mad_outliers", ts_mad_outliers, TS_MAD_SQL)
register("events_funnel", events_funnel, EVENTS_FUNNEL_SQL)
register("emb_kmeans_step", emb_kmeans_step, EMB_KMEANS_SQL)

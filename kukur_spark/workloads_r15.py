"""Round-10 additions: corpus-quality rule filtering and SPC control
charts.

- ``docs_gopher_rules`` — the Gopher / RefinedWeb repetition-free
  document quality gate (Rae et al. 2021 §A1.1; Penedo et al. 2023):
  per-document word count, mean word length, stop-word fraction and
  digit fraction, each tested against the published-style thresholds,
  plus the conjunctive keep flag.  Every metric is exact integer
  arithmetic (e2/ppm scales) so the DuckDB oracle matches
  bit-for-bit.  Plan shape: pure map-side projections over one
  pruned (doc_id, text) scan + the deterministic output sort — no
  data shuffle at all, the ideal 100 TB filter stage.

- ``ts_spc_rules`` — Western Electric control-chart rules over each
  event series (the reference is an industrial time-series gateway;
  SPC rule evaluation is the canonical quality check on such data):
  rule 1 (point beyond 3 sigma), rule 2 (2 of 3 consecutive beyond
  2 sigma, same side), rule 3 (4 of 5 consecutive beyond 1 sigma,
  same side), rule 4 (8 consecutive on one side of the mean).  Mean
  and sigma derive from decimal-bridged integer sums (the
  ``ts_zscore_outliers`` recipe — bit-identical doubles in both
  engines), zone membership is an integer flag, and the rule windows
  are rolling integer sums — so the report is exact cross-engine.
  Plan shape: one per-series aggregate broadcast back, then ONE
  series-keyed sort-window carrying all four rolling sums; no
  second exchange.

- ``ts_oee_daily`` — OEE (availability × performance × quality), the
  canonical industrial-historian KPI, rolled up per series-day:
  gap-capped run time, rate vs the series' best day, 3-sigma spec
  conformance.  Integer microsecond/ppm arithmetic throughout (the
  mean/sigma doubles use the same decimal bridge as ``ts_spc_rules``)
  so the rollup is exact cross-engine.

- ``ts_ewma_control`` — EWMA control chart with steady-state limits,
  the third classic chart next to Shewhart and CUSUM: flags small
  persistent shifts the 3-sigma rules miss.  Composes the exact
  trailing-8 EWMA fold from ``ts_ewma`` with the decimal-bridged
  control limits.

- ``ts_process_capability`` — Cp / Cpk drift per series: spec limits
  from the baseline half (integer-µs midpoint split), capability
  measured on the evaluation half.  One conditional aggregate pass
  after a tiny per-series range broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.registry import register


_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "on", "that", "for"
)


def docs_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    base = (
        docs.withColumn("__toks", F.split(F.col("text"), " "))
        .withColumn("n_words", F.size("__toks").cast("long"))
        # single-spaced text: word characters = chars minus separators
        .withColumn(
            "__sum_wlen",
            F.length(F.regexp_replace(F.col("text"), " ", "")).cast("long"),
        )
        .withColumn(
            "mean_wlen_e2", F.expr("__sum_wlen * 100L div n_words")
        )
        .withColumn(
            "stop_ppm",
            F.expr(
                f"size(filter(__toks, t -> t IN ({stop_list})))"
                " * 1000000L div n_words"
            ),
        )
        .withColumn(
            "digit_ppm",
            F.expr(
                "(length(text) - length(regexp_replace(text, '[0-9]', '')))"
                " * 1000000L div greatest(length(text), 1L)"
            ),
        )
    )
    flags = (
        base.withColumn(
            "f_wordcount",
            F.col("n_words").between(10, 100000).cast("int"),
        )
        .withColumn(
            "f_wordlen",
            F.col("mean_wlen_e2").between(300, 800).cast("int"),
        )
        .withColumn("f_stop", (F.col("stop_ppm") >= 20000).cast("int"))
        .withColumn("f_digit", (F.col("digit_ppm") <= 200000).cast("int"))
    )
    return flags.select(
        "doc_id",
        "n_words",
        "mean_wlen_e2",
        "stop_ppm",
        "digit_ppm",
        "f_wordcount",
        "f_wordlen",
        "f_stop",
        "f_digit",
        (
            F.col("f_wordcount")
            * F.col("f_wordlen")
            * F.col("f_stop")
            * F.col("f_digit")
        ).alias("keep"),
    ).orderBy("doc_id")


GOPHER_RULES_SQL = f"""
WITH base AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
),
metrics AS (
  SELECT doc_id,
    CAST(len(t) AS BIGINT) AS n_words,
    CAST(length(replace(text, ' ', '')) AS BIGINT) * 100
      // CAST(len(t) AS BIGINT) AS mean_wlen_e2,
    CAST(len(list_filter(t, x ->
      list_contains([{", ".join(f"'{w}'" for w in _STOPWORDS)}], x)))
      AS BIGINT) * 1000000 // CAST(len(t) AS BIGINT) AS stop_ppm,
    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
      AS BIGINT) * 1000000
      // GREATEST(CAST(length(text) AS BIGINT), 1) AS digit_ppm
  FROM base
),
flags AS (
  SELECT doc_id, n_words, mean_wlen_e2, stop_ppm, digit_ppm,
    CAST(n_words BETWEEN 10 AND 100000 AS INTEGER) AS f_wordcount,
    CAST(mean_wlen_e2 BETWEEN 300 AND 800 AS INTEGER) AS f_wordlen,
    CAST(stop_ppm >= 20000 AS INTEGER) AS f_stop,
    CAST(digit_ppm <= 200000 AS INTEGER) AS f_digit
  FROM metrics
)
SELECT doc_id, n_words, mean_wlen_e2, stop_ppm, digit_ppm,
  f_wordcount, f_wordlen, f_stop, f_digit,
  f_wordcount * f_wordlen * f_stop * f_digit AS keep
FROM flags ORDER BY doc_id
"""

register("docs_gopher_rules", docs_gopher_rules, GOPHER_RULES_SQL)


def ts_spc_rules(
    spark: SparkSession, sf: str, series_buckets: int = 0
) -> DataFrame:
    events = load_table(spark, sf, "events")
    if series_buckets:
        # Scale-probe knob (SCALE_PROBE_EXTRA "ts_spc_rules:series_
        # buckets=N"): derive N sub-series per event_type so the probe's
        # replicated table reflects a real historian's series cardinality
        # (10^5+), not the replicator's fixed 5.  Each derived series
        # gets its own control limits — the semantically right grouping.
        # Default 0 leaves the oracle-checked behavior untouched.
        events = events.withColumn(
            "event_type",
            F.concat(
                F.col("event_type"),
                F.lit("#"),
                F.pmod(F.col("event_id"), F.lit(series_buckets)),
            ),
        )
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
    enriched = events.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        (F.col("sum_e6").cast("double") / 1e6 / F.col("n")).alias("mean"),
        "sumsq_e6",
        "n",
    )
    sigma = F.sqrt(
        F.col("sumsq_e6").cast("double") / 1e6 / F.col("n")
        - F.col("mean") * F.col("mean")
    )
    dev = F.col("value") - F.col("mean")
    zoned = enriched.select(
        "event_type",
        "ts_us",
        "event_id",
        "value",
        (dev > 3 * sigma).cast("int").alias("up3"),
        (-dev > 3 * sigma).cast("int").alias("dn3"),
        (dev > 2 * sigma).cast("int").alias("up2"),
        (-dev > 2 * sigma).cast("int").alias("dn2"),
        (dev > sigma).cast("int").alias("up1"),
        (-dev > sigma).cast("int").alias("dn1"),
        (dev > 0).cast("int").alias("side_up"),
        (dev < 0).cast("int").alias("side_dn"),
    )

    def roll(col: str, span: int):
        w = (
            Window.partitionBy("event_type")
            .orderBy("ts_us", "event_id")
            .rowsBetween(-(span - 1), 0)
        )
        return F.sum(F.col(col)).over(w)

    ruled = zoned.select(
        "event_type",
        "ts_us",
        "event_id",
        "value",
        (F.col("up3") + F.col("dn3") > 0).cast("int").alias("r1"),
        ((roll("up2", 3) >= 2) | (roll("dn2", 3) >= 2))
        .cast("int")
        .alias("r2"),
        ((roll("up1", 5) >= 4) | (roll("dn1", 5) >= 4))
        .cast("int")
        .alias("r3"),
        ((roll("side_up", 8) >= 8) | (roll("side_dn", 8) >= 8))
        .cast("int")
        .alias("r4"),
    )
    return ruled.filter(
        F.col("r1") + F.col("r2") + F.col("r3") + F.col("r4") > 0
    ).orderBy("event_type", "ts_us", "event_id")


SPC_RULES_SQL = """
WITH stats AS (
  SELECT event_type,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS sum_e6,
    CAST(FLOOR(SUM(CAST(value * value AS DECIMAL(30,10))) * 1000000)
      AS BIGINT) AS sumsq_e6,
    COUNT(*) AS n
  FROM events GROUP BY event_type
),
enriched AS (
  SELECT e.event_type, epoch_us(e.ts) AS ts_us, e.event_id, e.value,
    CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n AS mean,
    sqrt(CAST(s.sumsq_e6 AS DOUBLE) / 1e6 / s.n
      - (CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n)
        * (CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n)) AS sigma
  FROM events e JOIN stats s USING (event_type)
),
zoned AS (
  SELECT event_type, ts_us, event_id, value,
    CAST(value - mean > 3 * sigma AS INTEGER) AS up3,
    CAST(mean - value > 3 * sigma AS INTEGER) AS dn3,
    CAST(value - mean > 2 * sigma AS INTEGER) AS up2,
    CAST(mean - value > 2 * sigma AS INTEGER) AS dn2,
    CAST(value - mean > sigma AS INTEGER) AS up1,
    CAST(mean - value > sigma AS INTEGER) AS dn1,
    CAST(value - mean > 0 AS INTEGER) AS side_up,
    CAST(value - mean < 0 AS INTEGER) AS side_dn
  FROM enriched
),
ruled AS (
  SELECT event_type, ts_us, event_id, value,
    CAST(up3 + dn3 > 0 AS INTEGER) AS r1,
    CAST(SUM(up2) OVER w3 >= 2 OR SUM(dn2) OVER w3 >= 2 AS INTEGER) AS r2,
    CAST(SUM(up1) OVER w5 >= 4 OR SUM(dn1) OVER w5 >= 4 AS INTEGER) AS r3,
    CAST(SUM(side_up) OVER w8 >= 8 OR SUM(side_dn) OVER w8 >= 8
      AS INTEGER) AS r4
  FROM zoned
  WINDOW
    w3 AS (PARTITION BY event_type ORDER BY ts_us, event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
    w5 AS (PARTITION BY event_type ORDER BY ts_us, event_id
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
    w8 AS (PARTITION BY event_type ORDER BY ts_us, event_id
           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT event_type, ts_us, event_id, value, r1, r2, r3, r4
FROM ruled WHERE r1 + r2 + r3 + r4 > 0
ORDER BY event_type, ts_us, event_id
"""

register("ts_spc_rules", ts_spc_rules, SPC_RULES_SQL)


def ts_oee_daily(spark: SparkSession, sf: str) -> DataFrame:
    """OEE (Overall Equipment Effectiveness) daily rollup per series.

    The canonical industrial-historian KPI (the reference's domain —
    Timeseer targets exactly these gateways): treating each event
    series as a machine,

    - **availability** = gap-capped run time / planned day.  Run time
      is the sum of inter-event gaps capped at 15 min (a gap longer
      than the cap counts as downtime beyond the cap) plus one cap of
      lead-in per day, so a single-event day is never 0/0.
    - **performance** = the day's event rate over run time vs the
      SERIES' best day — by construction ≤ 1e6 ppm.
    - **quality** = share of events inside the 3-sigma spec band.
      Mean/sigma use the decimal-bridged integer sums (the SPC /
      ts_zscore recipe), so the band membership is bit-identical in
      Spark and DuckDB.

    Everything else is integer arithmetic on microsecond timestamps
    and ppm scales — exact cross-engine.  Plan shape at 100 TB: one
    scan → (series, day)-keyed lag window (fine-grained keys, no fat
    partitions) → tiny day-level aggregate → two broadcast-sized
    series-level joins (best rate, spec band) → projection.  No
    corpus-sized shuffle after the first window exchange.
    """
    cap_us = 15 * 60 * 1_000_000
    day_us = 86_400_000_000
    events = load_table(spark, sf, "events").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    spec = events.groupBy("event_type").agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sum_e6"),
        F.floor(
            F.sum(
                (F.col("value") * F.col("value")).cast("decimal(30,10)")
            )
            * 1_000_000
        ).cast("long").alias("sumsq_e6"),
        F.count(F.lit(1)).alias("n_all"),
    )
    w = Window.partitionBy("event_type", "day_idx").orderBy(
        "ts_us", "event_id"
    )
    gapped = (
        events.withColumn("day_idx", F.expr(f"ts_us div {day_us}L"))
        .join(F.broadcast(spec), "event_type")
        .withColumn(
            "mean", F.col("sum_e6").cast("double") / 1e6 / F.col("n_all")
        )
        .withColumn(
            "sigma",
            F.sqrt(
                F.col("sumsq_e6").cast("double") / 1e6 / F.col("n_all")
                - F.col("mean") * F.col("mean")
            ),
        )
        .withColumn(
            "good",
            (
                ~(
                    (F.col("value") - F.col("mean") > 3 * F.col("sigma"))
                    | (F.col("mean") - F.col("value") > 3 * F.col("sigma"))
                )
            ).cast("long"),
        )
        .withColumn(
            # least() IGNORES nulls in both engines, so the raw
            # least(ts - lag, cap) would turn each day's first row into a
            # full cap and double-count the lead-in — coalesce to 0 first
            "gap_us",
            F.least(
                F.coalesce(
                    F.col("ts_us") - F.lag("ts_us").over(w), F.lit(0)
                ),
                F.lit(cap_us),
            ),
        )
    )
    days = gapped.groupBy("event_type", "day_idx").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("good").alias("n_good"),
        (F.coalesce(F.sum("gap_us"), F.lit(0)) + F.lit(cap_us)).alias(
            "run_us"
        ),
    ).withColumn(
        "rate_e6", F.expr("n * 1000000000000L div run_us")
    )
    # best-day rate via a keyed window over the tiny day-level aggregate
    # (rows = series × days): a groupBy+join here would re-run the whole
    # scan+window pipeline for the second branch — at 100 TB that is a
    # second pass over the corpus for a value the agg output already has.
    best_rate = F.max("rate_e6").over(Window.partitionBy("event_type"))
    return (
        days.withColumn("best_rate_e6", best_rate)
        .select(
            "event_type",
            "day_idx",
            "n",
            F.expr(f"least(run_us * 1000000L div {day_us}L, 1000000L)")
            .alias("avail_ppm"),
            F.expr("rate_e6 * 1000000L div best_rate_e6").alias(
                "perf_ppm"
            ),
            F.expr("n_good * 1000000L div n").alias("qual_ppm"),
            F.expr(
                "avail_ppm * perf_ppm div 1000000L * qual_ppm"
                " div 1000000L"
            ).alias("oee_ppm"),
        )
        .orderBy("event_type", "day_idx")
    )


OEE_DAILY_SQL = """
WITH spec AS (
  SELECT event_type,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS sum_e6,
    CAST(FLOOR(SUM(CAST(value * value AS DECIMAL(30,10))) * 1000000)
      AS BIGINT) AS sumsq_e6,
    COUNT(*) AS n_all
  FROM events GROUP BY event_type
),
gapped AS (
  SELECT e.event_type,
    epoch_us(e.ts) // 86400000000 AS day_idx,
    CAST(NOT (
      e.value - CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n_all
        > 3 * sqrt(CAST(s.sumsq_e6 AS DOUBLE) / 1e6 / s.n_all
          - (CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n_all)
            * (CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n_all))
      OR CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n_all - e.value
        > 3 * sqrt(CAST(s.sumsq_e6 AS DOUBLE) / 1e6 / s.n_all
          - (CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n_all)
            * (CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n_all))
    ) AS BIGINT) AS good,
    LEAST(
      COALESCE(
        epoch_us(e.ts) - lag(epoch_us(e.ts)) OVER (
          PARTITION BY e.event_type, epoch_us(e.ts) // 86400000000
          ORDER BY epoch_us(e.ts), e.event_id),
        0),
      900000000) AS gap_us
  FROM events e JOIN spec s USING (event_type)
),
days AS (
  SELECT event_type, day_idx, COUNT(*) AS n,
    CAST(SUM(good) AS BIGINT) AS n_good,
    CAST(COALESCE(SUM(gap_us), 0) + 900000000 AS BIGINT) AS run_us
  FROM gapped GROUP BY event_type, day_idx
),
rated AS (
  SELECT *, n * 1000000000000 // run_us AS rate_e6 FROM days
),
best AS (
  SELECT event_type, MAX(rate_e6) AS best_rate_e6
  FROM rated GROUP BY event_type
)
SELECT r.event_type, r.day_idx, r.n,
  LEAST(r.run_us * 1000000 // 86400000000, 1000000) AS avail_ppm,
  r.rate_e6 * 1000000 // b.best_rate_e6 AS perf_ppm,
  r.n_good * 1000000 // r.n AS qual_ppm,
  CAST(LEAST(r.run_us * 1000000 // 86400000000, 1000000)
    * (r.rate_e6 * 1000000 // b.best_rate_e6) // 1000000
    * (r.n_good * 1000000 // r.n) // 1000000 AS BIGINT) AS oee_ppm
FROM rated r JOIN best b USING (event_type)
ORDER BY event_type, day_idx
"""

register("ts_oee_daily", ts_oee_daily, OEE_DAILY_SQL)


def ts_ewma_control(spark: SparkSession, sf: str) -> DataFrame:
    """EWMA control chart (steady-state limits) — the third classic
    chart next to Shewhart (``ts_spc_rules``) and CUSUM
    (``ts_cusum_changepoint``): it flags small persistent shifts the
    3-sigma rules miss.

    z_i is the trailing-8 EWMA fold from ``ts_ewma`` (alpha = 0.3;
    the bounded window makes the recursion distribute — no
    cross-partition sequential state — and the identical expression
    tree runs in DuckDB's list_reduce, so z is bit-exact
    cross-engine).  Limits are the textbook steady-state form
    mu +/- L*sigma*sqrt(alpha/(2-alpha)) with L = 3, mean/sigma from
    the decimal-bridged integer sums.  Plan: one scan -> per-series
    stats broadcast back -> ONE series-keyed sort-window for the
    fold -> filter; same shape as the SPC chart.
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
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-7, 0)
    )
    base = events.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        (F.col("sum_e6").cast("double") / 1e6 / F.col("n")).alias("mean"),
        "sumsq_e6",
        "n",
    )
    sigma = F.sqrt(
        F.col("sumsq_e6").cast("double") / 1e6 / F.col("n")
        - F.col("mean") * F.col("mean")
    )
    xs = F.collect_list("value").over(w)
    z = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(xs, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    halfwidth = F.lit(3.0) * sigma * F.sqrt(F.lit(0.3) / F.lit(1.7))
    return (
        base.withColumn("z", z)
        .withColumn(
            "side",
            F.when(F.col("z") - F.col("mean") > halfwidth, F.lit(1))
            .when(F.col("mean") - F.col("z") > halfwidth, F.lit(-1))
            .otherwise(F.lit(0)),
        )
        .filter(F.col("side") != 0)
        .select(
            "event_type",
            "ts_us",
            "event_id",
            "value",
            F.floor(F.col("z") * 1_000_000).cast("long").alias("ewma_e6"),
            "side",
        )
        .orderBy("event_type", "ts_us", "event_id")
    )


EWMA_CONTROL_SQL = """
WITH stats AS (
  SELECT event_type,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS sum_e6,
    CAST(FLOOR(SUM(CAST(value * value AS DECIMAL(30,10))) * 1000000)
      AS BIGINT) AS sumsq_e6,
    COUNT(*) AS n
  FROM events GROUP BY event_type
),
windowed AS (
  SELECT e.event_type, epoch_us(e.ts) AS ts_us, e.event_id, e.value,
    CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n AS mean,
    sqrt(CAST(s.sumsq_e6 AS DOUBLE) / 1e6 / s.n
      - (CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n)
        * (CAST(s.sum_e6 AS DOUBLE) / 1e6 / s.n)) AS sigma,
    list(e.value) OVER (
      PARTITION BY e.event_type ORDER BY epoch_us(e.ts), e.event_id
      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS xs
  FROM events e JOIN stats s USING (event_type)
),
scored AS (
  SELECT event_type, ts_us, event_id, value, mean,
    list_reduce(xs,
      (acc, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc)
      AS z,
    CAST(3.0 AS DOUBLE) * sigma
      * sqrt(CAST(0.3 AS DOUBLE) / CAST(1.7 AS DOUBLE)) AS halfwidth
  FROM windowed
)
SELECT event_type, ts_us, event_id, value,
  CAST(FLOOR(z * 1000000) AS BIGINT) AS ewma_e6,
  CASE WHEN z - mean > halfwidth THEN 1
       WHEN mean - z > halfwidth THEN -1 ELSE 0 END AS side
FROM scored
WHERE z - mean > halfwidth OR mean - z > halfwidth
ORDER BY event_type, ts_us, event_id
"""

register("ts_ewma_control", ts_ewma_control, EWMA_CONTROL_SQL)


def ts_process_capability(spark: SparkSession, sf: str) -> DataFrame:
    """Process capability drift (Cp / Cpk) per series — the standard
    quality-engineering companion to the control charts: spec limits
    are set from the series' BASELINE half (mean +/- 3 sigma of rows
    before the integer time midpoint), capability is then measured on
    the EVALUATION half.  Cp < 1 means the recent spread no longer
    fits the historical band; Cpk < Cp means it also drifted
    off-center.

    The half split uses the integer microsecond midpoint
    (min+max) div 2 — exact cross-engine — and all moments use the
    decimal-bridged integer sums, so the e6-floored indices match
    DuckDB bit-for-bit.  Plan: per-series min/max agg broadcast back,
    then ONE conditional aggregate pass — no window, no second corpus
    scan beyond the tiny range join.
    """
    events = load_table(spark, sf, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    )
    spans = events.groupBy("event_type").agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").alias("mid_us")
    )
    tagged = events.join(F.broadcast(spans), "event_type").withColumn(
        "is_base", (F.col("ts_us") < F.col("mid_us")).cast("int")
    )

    def _moments(flag: int, suffix: str):
        cond = F.col("is_base") == flag
        return [
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"n{suffix}"),
            F.floor(
                F.sum(
                    F.when(cond, F.col("value").cast("decimal(30,10)"))
                ) * 1_000_000
            ).cast("long").alias(f"sum{suffix}_e6"),
            F.floor(
                F.sum(
                    F.when(
                        cond,
                        (F.col("value") * F.col("value")).cast(
                            "decimal(30,10)"
                        ),
                    )
                ) * 1_000_000
            ).cast("long").alias(f"sumsq{suffix}_e6"),
        ]

    agg = tagged.groupBy("event_type").agg(
        *_moments(1, "1"), *_moments(0, "2")
    )

    def mean(s):
        return F.col(f"sum{s}_e6").cast("double") / 1e6 / F.col(f"n{s}")

    def var(s):
        return (
            F.col(f"sumsq{s}_e6").cast("double") / 1e6 / F.col(f"n{s}")
            - mean(s) * mean(s)
        )

    sigma1, sigma2 = F.sqrt(var("1")), F.sqrt(var("2"))
    usl = mean("1") + 3 * sigma1
    lsl = mean("1") - 3 * sigma1
    cp = (usl - lsl) / (6 * sigma2)
    cpk = F.least(usl - mean("2"), mean("2") - lsl) / (3 * sigma2)
    return (
        agg.filter(
            (F.col("n1") > 1) & (F.col("n2") > 1)
        )
        .filter((var("1") > 0) & (var("2") > 0))
        .select(
            "event_type",
            F.col("n1").alias("n_base"),
            F.col("n2").alias("n_eval"),
            F.floor(cp * 1_000_000).cast("long").alias("cp_e6"),
            F.floor(cpk * 1_000_000).cast("long").alias("cpk_e6"),
        )
        .orderBy("event_type")
    )


PROCESS_CAPABILITY_SQL = """
WITH spans AS (
  SELECT event_type,
    (CAST(min(epoch_us(ts)) AS BIGINT) + CAST(max(epoch_us(ts)) AS BIGINT))
      // 2 AS mid_us
  FROM events GROUP BY event_type
),
tagged AS (
  SELECT e.event_type, e.value,
    CASE WHEN epoch_us(e.ts) < s.mid_us THEN 1 ELSE 0 END AS is_base
  FROM events e JOIN spans s USING (event_type)
),
agg AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN is_base = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(FLOOR(SUM(CASE WHEN is_base = 1
      THEN CAST(value AS DECIMAL(30,10)) END) * 1000000) AS BIGINT)
      AS sum1_e6,
    CAST(FLOOR(SUM(CASE WHEN is_base = 1
      THEN CAST(value * value AS DECIMAL(30,10)) END) * 1000000) AS BIGINT)
      AS sumsq1_e6,
    CAST(SUM(CASE WHEN is_base = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(FLOOR(SUM(CASE WHEN is_base = 0
      THEN CAST(value AS DECIMAL(30,10)) END) * 1000000) AS BIGINT)
      AS sum2_e6,
    CAST(FLOOR(SUM(CASE WHEN is_base = 0
      THEN CAST(value * value AS DECIMAL(30,10)) END) * 1000000) AS BIGINT)
      AS sumsq2_e6
  FROM tagged GROUP BY event_type
),
derived AS (
  SELECT event_type, n1, n2,
    CAST(sum1_e6 AS DOUBLE) / 1e6 / n1 AS m1,
    sqrt(CAST(sumsq1_e6 AS DOUBLE) / 1e6 / n1
      - (CAST(sum1_e6 AS DOUBLE) / 1e6 / n1)
        * (CAST(sum1_e6 AS DOUBLE) / 1e6 / n1)) AS s1,
    CAST(sum2_e6 AS DOUBLE) / 1e6 / n2 AS m2,
    sqrt(CAST(sumsq2_e6 AS DOUBLE) / 1e6 / n2
      - (CAST(sum2_e6 AS DOUBLE) / 1e6 / n2)
        * (CAST(sum2_e6 AS DOUBLE) / 1e6 / n2)) AS s2
  FROM agg
  WHERE n1 > 1 AND n2 > 1
    AND CAST(sumsq1_e6 AS DOUBLE) / 1e6 / n1
      - (CAST(sum1_e6 AS DOUBLE) / 1e6 / n1)
        * (CAST(sum1_e6 AS DOUBLE) / 1e6 / n1) > 0
    AND CAST(sumsq2_e6 AS DOUBLE) / 1e6 / n2
      - (CAST(sum2_e6 AS DOUBLE) / 1e6 / n2)
        * (CAST(sum2_e6 AS DOUBLE) / 1e6 / n2) > 0
)
SELECT event_type, n1 AS n_base, n2 AS n_eval,
  CAST(FLOOR(((m1 + 3 * s1) - (m1 - 3 * s1)) / (6 * s2) * 1000000)
    AS BIGINT) AS cp_e6,
  CAST(FLOOR(LEAST((m1 + 3 * s1) - m2, m2 - (m1 - 3 * s1)) / (3 * s2)
    * 1000000) AS BIGINT) AS cpk_e6
FROM derived ORDER BY event_type
"""

register(
    "ts_process_capability", ts_process_capability, PROCESS_CAPABILITY_SQL
)

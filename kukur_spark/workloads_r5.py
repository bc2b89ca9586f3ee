"""Round-2 fourth batch: group-wise OLS trend, moving-average
crossover, skew diagnostics, Bloom filter build+probe.

Beyond-reference operators (the reference gateway has no aggregate/join
executor — SURVEY §2.3/§2.4); every query carries an exact DuckDB
oracle.  All hot paths are JVM column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.operators.dedup import md5_long_sql
from kukur_spark.registry import register


# ---------------------------------------------------------------------------
# Group-wise OLS trend (exact integer moments)
# ---------------------------------------------------------------------------
def ts_linreg_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(series, week) least-squares slope from integer moments.

    One partial-aggregate pass computes the five OLS moments (n, Σx,
    Σy, Σxy, Σx²) — map-side combinable, so the shuffle carries five
    longs per group no matter how many points feed it; that is the
    whole design at 100 TB.  x is hour-of-week (0..167), y is
    e3-quantized, so ``num = nΣxy − ΣxΣy`` and ``den = nΣx² − (Σx)²``
    stay inside a long with headroom and the slope is emitted as an
    integer-exact e6/hour value (sign-split floor keeps Spark's
    truncating ``div`` and DuckDB's ``//`` in agreement).
    """
    events = load_table(spark, sf, "events")
    base = events.select(
        "event_type",
        F.expr(
            # date cast: DuckDB date_trunc('week', ts) is DATE, Spark's
            # is TIMESTAMP — the driver hashes typed values
            "cast(date_trunc('week', ts) as date)"
        ).alias("week"),
        (
            (F.unix_micros("ts") - F.unix_micros(F.expr("date_trunc('week', ts)")))
            / F.lit(3_600_000_000)
        ).cast("long").alias("x"),
        F.floor(
            F.col("value").cast("decimal(30,10)") * 1_000
        ).cast("long").alias("y"),
    )
    agg = base.groupBy("event_type", "week").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return (
        agg.withColumn("num", F.expr("n * sxy - sx * sy"))
        .withColumn("den", F.expr("n * sxx - sx * sx"))
        .select(
            "event_type",
            "week",
            "n",
            F.expr(
                "CASE WHEN den = 0 THEN NULL "
                "WHEN num >= 0 THEN (num * 1000) div den "
                "ELSE -((-num * 1000) div den) END"
            ).alias("slope_e6_per_hour"),
            F.expr("(sy * 1000) div n").alias("mean_e6"),
        )
        .orderBy("event_type", "week")
    )


TS_LINREG_SQL = """
WITH base AS (
  SELECT event_type, date_trunc('week', ts) AS week,
    (epoch_us(ts) - epoch_us(date_trunc('week', ts))) // 3600000000 AS x,
    CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000) AS BIGINT) AS y
  FROM events
),
agg AS (
  SELECT event_type, week, COUNT(*) AS n,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM base GROUP BY event_type, week
)
SELECT event_type, week, n,
  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
       WHEN n * sxy - sx * sy >= 0
         THEN ((n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx)
       ELSE -((-(n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx))
  END AS slope_e6_per_hour,
  (sy * 1000) // n AS mean_e6
FROM agg
ORDER BY event_type, week
"""

register("ts_linreg_trend", ts_linreg_trend, TS_LINREG_SQL)


# ---------------------------------------------------------------------------
# Moving-average crossover signals
# ---------------------------------------------------------------------------
def ts_ma_crossover(spark: SparkSession, sf: str) -> DataFrame:
    """Days where the 3-day mean crosses the 10-day mean, per series.

    The classic signal-detection primitive.  Daily pre-aggregation
    first (map-side combinable), then two trailing ROWS windows over
    the *daily* panel — window state is days, not raw points, which is
    what keeps the sort-window cheap at 100 TB.  The crossover test
    cross-multiplies integer sums (``s3·n10`` vs ``s10·n3``) so no
    division or float ever enters; direction flips are detected with a
    lag window.
    """
    events = load_table(spark, sf, "events")
    daily = (
        events.groupBy(
            "event_type",
            # date, not timestamp — matches DuckDB date_trunc's DATE
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("value").cast("decimal(30,10)") * 1_000
                ).cast("long")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    w3 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-2, 0)
    )
    w10 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-9, 0)
    )
    panel = daily.select(
        "event_type",
        "day",
        F.sum("s").over(w3).alias("s3"),
        F.sum("n").over(w3).alias("n3"),
        F.sum("s").over(w10).alias("s10"),
        F.sum("n").over(w10).alias("n10"),
    ).withColumn(
        "above",
        (F.col("s3") * F.col("n10") > F.col("s10") * F.col("n3")).cast(
            "int"
        ),
    )
    lag_w = Window.partitionBy("event_type").orderBy("day")
    return (
        panel.withColumn("prev", F.lag("above").over(lag_w))
        .filter(
            F.col("prev").isNotNull() & (F.col("above") != F.col("prev"))
        )
        .select(
            "event_type",
            "day",
            F.when(F.col("above") == 1, F.lit("golden"))
            .otherwise(F.lit("death"))
            .alias("cross"),
        )
        .orderBy("event_type", "day")
    )


TS_MA_CROSS_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
    CAST(SUM(CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000) AS BIGINT))
      AS BIGINT) AS s,
    COUNT(*) AS n
  FROM events GROUP BY event_type, day
),
panel AS (
  SELECT event_type, day,
    CAST(SUM(s) OVER w3 AS BIGINT) AS s3,
    CAST(SUM(n) OVER w3 AS BIGINT) AS n3,
    CAST(SUM(s) OVER w10 AS BIGINT) AS s10,
    CAST(SUM(n) OVER w10 AS BIGINT) AS n10
  FROM daily
  WINDOW
    w3 AS (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
    w10 AS (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
),
flags AS (
  SELECT event_type, day,
    CASE WHEN s3 * n10 > s10 * n3 THEN 1 ELSE 0 END AS above
  FROM panel
)
SELECT event_type, day,
  CASE WHEN above = 1 THEN 'golden' ELSE 'death' END AS cross
FROM (
  SELECT event_type, day, above,
    lag(above) OVER (PARTITION BY event_type ORDER BY day) AS prev
  FROM flags
)
WHERE prev IS NOT NULL AND above <> prev
ORDER BY event_type, day
"""

register("ts_ma_crossover", ts_ma_crossover, TS_MA_CROSS_SQL)


# ---------------------------------------------------------------------------
# Shuffle-skew diagnostics
# ---------------------------------------------------------------------------
def events_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Key-skew report for the (user_id) shuffle key of events.

    The pre-flight check before choosing a salting factor
    (`operators/scale.py`): per-key counts, then one tiny aggregate of
    the count distribution — max, exact p50/p99 by rank selection, and
    the max/mean skew ratio in ppm.  The rank over the counts table
    (key-cardinality-sized, still potentially huge) uses
    ``distributed_row_number`` — range repartition + broadcast offsets
    — never a single-task global window.
    """
    from kukur_spark.operators.scale import distributed_row_number

    events = load_table(spark, sf, "events")
    counts = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ranked = distributed_row_number(
        counts, ["cnt", "user_id"], "r"
    ).select("cnt", "r")
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("max_cnt"),
    )
    pick = (
        ranked.crossJoin(F.broadcast(stats))
        .filter(
            (F.col("r") == F.expr("(n_keys + 1) div 2"))
            | (F.col("r") == F.expr("greatest(1, (n_keys * 99) div 100)"))
        )
        .groupBy("n_keys", "total", "max_cnt")
        .agg(
            F.min("cnt").alias("p50_cnt"),
            F.max("cnt").alias("p99_cnt"),
        )
    )
    return pick.select(
        "n_keys",
        "total",
        "max_cnt",
        "p50_cnt",
        "p99_cnt",
        F.expr("(max_cnt * n_keys * 1000000L) div total").alias(
            "skew_ratio_ppm"
        ),
    )


EVENTS_SKEW_SQL = """
WITH counts AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
),
ranked AS (
  SELECT cnt,
    row_number() OVER (ORDER BY cnt, user_id) AS r
  FROM counts
),
stats AS (
  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total,
    MAX(cnt) AS max_cnt
  FROM counts
)
SELECT n_keys, total, max_cnt,
  MIN(cnt) AS p50_cnt, MAX(cnt) AS p99_cnt,
  (max_cnt * n_keys * 1000000) // total AS skew_ratio_ppm
FROM ranked, stats
WHERE r = (n_keys + 1) // 2
   OR r = GREATEST(1, (n_keys * 99) // 100)
GROUP BY n_keys, total, max_cnt
"""

register("events_skew_report", events_skew_report, EVENTS_SKEW_SQL)


# ---------------------------------------------------------------------------
# Bloom filter build + probe
# ---------------------------------------------------------------------------
_BLOOM_M = 1024
_BLOOM_K = 3


def docs_bloom_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Build a Bloom filter over corpus tokens; probe a fixed word list.

    The join-pruning primitive: the filter is the distinct set of
    ``k=3`` md5-derived bit positions over ``m=1024`` bits — built with
    one map-side explode + distinct whose state is at most m rows, i.e.
    a bounded summary of an unbounded corpus (Spark's own runtime
    bloom-filter pruning uses the identical construction).  Probes
    check all k positions via a broadcast left-semi count.  Output per
    probe word: whether the filter claims membership and whether the
    word is truly present — false positives show up as
    ``maybe=true, present=false``.
    """
    docs = load_table(spark, sf, "documents")
    tokens = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    )
    ks = F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))
    bits = (
        tokens.select("token", F.explode(ks).alias("k"))
        .select(
            F.pmod(
                F.expr(md5_long_sql("concat(token, '@', k)")),
                F.lit(_BLOOM_M),
            ).alias("bit")
        )
        .distinct()
    )
    probes = spark.createDataFrame(
        [("table",), ("vector",), ("zeppelin",), ("spark",), ("quasar",),
         ("merge",), ("unicorn",), ("scan",), ("lighthouse",), ("query",)],
        "word string",
    )
    probe_bits = probes.select(
        "word", F.explode(ks).alias("k")
    ).select(
        "word",
        F.pmod(
            F.expr(md5_long_sql("concat(word, '@', k)")),
            F.lit(_BLOOM_M),
        ).alias("bit"),
    )
    hit = (
        probe_bits.join(F.broadcast(bits), "bit", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("k_hit"))
    )
    present = (
        tokens.distinct()
        .withColumnRenamed("token", "word")
        .withColumn("present", F.lit(True))
    )
    return (
        probes.join(hit, "word", "left")
        .join(F.broadcast(present), "word", "left")
        .select(
            "word",
            (F.coalesce(F.col("k_hit"), F.lit(0)) == _BLOOM_K).alias(
                "maybe"
            ),
            F.coalesce(F.col("present"), F.lit(False)).alias("present"),
        )
        .orderBy("word")
    )


DOCS_BLOOM_SQL = f"""
WITH tokens AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
bits AS (
  SELECT DISTINCT
    ('0x' || substr(md5(token || '@' || k), 1, 15))::BIGINT
      % {_BLOOM_M} AS bit
  FROM tokens, (SELECT unnest(range({_BLOOM_K})) AS k)
),
probes AS (
  SELECT unnest(['table', 'vector', 'zeppelin', 'spark', 'quasar',
                 'merge', 'unicorn', 'scan', 'lighthouse', 'query'])
    AS word
),
probe_bits AS (
  SELECT word,
    ('0x' || substr(md5(word || '@' || k), 1, 15))::BIGINT
      % {_BLOOM_M} AS bit
  FROM probes, (SELECT unnest(range({_BLOOM_K})) AS k)
),
hit AS (
  SELECT word, COUNT(*) AS k_hit
  FROM probe_bits WHERE bit IN (SELECT bit FROM bits)
  GROUP BY word
)
SELECT p.word,
  COALESCE(k_hit, 0) = {_BLOOM_K} AS maybe,
  p.word IN (SELECT DISTINCT token FROM tokens) AS present
FROM probes p LEFT JOIN hit USING (word)
ORDER BY word
"""

register("docs_bloom_probe", docs_bloom_probe, DOCS_BLOOM_SQL)


# ---------------------------------------------------------------------------
# Simpson (Gini) token diversity per document
# ---------------------------------------------------------------------------
def text_gini_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token diversity as an exact Simpson index (ppm).

    The repetition/diversity quality signal without logarithms:
    ``1 − Σc_i²/n²`` in integer math — no float, so cross-engine exact
    (entropy needs ``log``, whose last-ulp behavior is libm-specific).
    One (doc, token) count aggregate and one per-doc fold; both
    partial-aggregate map-side, shuffle keyed by doc.
    """
    docs = load_table(spark, sf, "documents")
    counts = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
        )
        .select(
            "doc_id",
            "n",
            F.expr(
                "1000000L - (sum_c2 * 1000000L) div (n * n)"
            ).alias("simpson_ppm"),
        )
        .orderBy("doc_id")
    )


TEXT_GINI_SQL = """
WITH counts AS (
  SELECT doc_id, token, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents)
  GROUP BY doc_id, token
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
  1000000 - (CAST(SUM(c * c) AS BIGINT) * 1000000)
    // (CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT)) AS simpson_ppm
FROM counts
GROUP BY doc_id
ORDER BY doc_id
"""

register("text_gini_diversity", text_gini_diversity, TEXT_GINI_SQL)


# ---------------------------------------------------------------------------
# Inter-arrival moments per series
# ---------------------------------------------------------------------------
def ts_interarrival_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Exact inter-arrival moments per series (irregularity fingerprint).

    Gaps in whole seconds via a lag window, then one five-moment
    aggregate: mean in ms by integer division, variance as the exact
    rational ``(nΣd² − (Σd)²) / n²`` — numerator and denominator
    emitted separately so no engine ever divides floats.  Window state
    is one row; the aggregate is map-side combinable.
    """
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        events.select(
            "event_type",
            "ts",
            F.expr("unix_micros(ts) div 1000000").alias("t"),
            "event_id",
        )
        .withColumn("d", F.col("t") - F.lag("t").over(w))
        .filter(F.col("d").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("d").alias("sd"),
            F.sum(F.col("d") * F.col("d")).alias("sd2"),
            F.max("d").alias("max_gap_s"),
        )
        .select(
            "event_type",
            "n",
            F.expr("(sd * 1000) div n").alias("mean_gap_ms"),
            F.expr("n * sd2 - sd * sd").alias("var_num"),
            F.expr("n * n").alias("var_den"),
            "max_gap_s",
        )
        .orderBy("event_type")
    )


TS_INTERARRIVAL_SQL = """
WITH gaps AS (
  SELECT event_type,
    epoch_us(ts) // 1000000
      - lag(epoch_us(ts) // 1000000) OVER (
          PARTITION BY event_type ORDER BY ts, event_id) AS d
  FROM events
)
SELECT event_type, COUNT(*) AS n,
  (CAST(SUM(d) AS BIGINT) * 1000) // COUNT(*) AS mean_gap_ms,
  COUNT(*) * CAST(SUM(d * d) AS BIGINT)
    - CAST(SUM(d) AS BIGINT) * CAST(SUM(d) AS BIGINT) AS var_num,
  COUNT(*) * COUNT(*) AS var_den,
  MAX(d) AS max_gap_s
FROM gaps WHERE d IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""

register("ts_interarrival_stats", ts_interarrival_stats, TS_INTERARRIVAL_SQL)


# ---------------------------------------------------------------------------
# Benford leading-digit distribution
# ---------------------------------------------------------------------------
def orders_benford(spark: SparkSession, sf: str) -> DataFrame:
    """Leading-digit distribution of order totals (fraud/synthetic-data
    screen).

    The digit is extracted with pure string ops on the integer cent
    value — no float log10 — and the distribution is one 9-row
    aggregate with map-side combine.
    """
    orders = load_table(spark, sf, "orders")
    cents = F.floor(
        F.col("o_totalprice").cast("decimal(30,10)") * 100
    ).cast("long")
    digit = F.substring(F.abs(cents).cast("string"), 1, 1).cast("long")
    total = orders.select(F.count(F.lit(1)).alias("total"))
    return (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr("(n * 1000000L) div total").alias("share_ppm"),
        )
        .orderBy("digit")
    )


ORDERS_BENFORD_SQL = """
WITH d AS (
  SELECT CAST(substr(CAST(ABS(CAST(FLOOR(
      CAST(o_totalprice AS DECIMAL(30,10)) * 100) AS BIGINT)) AS VARCHAR),
      1, 1) AS BIGINT) AS digit
  FROM orders
),
t AS (SELECT COUNT(*) AS total FROM orders)
SELECT digit, COUNT(*) AS n,
  (COUNT(*) * 1000000) // (SELECT total FROM t) AS share_ppm
FROM d
GROUP BY digit
ORDER BY digit
"""

register("orders_benford", orders_benford, ORDERS_BENFORD_SQL)


# ---------------------------------------------------------------------------
# Inverted-index postings summary
# ---------------------------------------------------------------------------
def text_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index build: per token df, total tf, capped posting list.

    The IR-side primitive behind retrieval corpora: one (doc, token)
    aggregate for tf, then a token-keyed aggregate that carries df, the
    summed tf, and the first five doc ids as a deterministic
    comma-joined posting preview (sorted set → slice — the cap is what
    keeps row width bounded when one token appears in millions of
    docs; full postings would shard by (token, bucket) instead).
    """
    docs = load_table(spark, sf, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.concat_ws(
                ",",
                F.slice(
                    F.array_sort(F.collect_list("doc_id")), 1, 5
                ).cast("array<string>"),
            ).alias("postings_head"),
        )
        .orderBy("token")
    )


TEXT_INVERTED_SQL = """
WITH tf AS (
  SELECT token, doc_id, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents)
  GROUP BY token, doc_id
)
SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
  array_to_string((list(doc_id ORDER BY doc_id))[1:5], ',')
    AS postings_head
FROM tf
GROUP BY token
ORDER BY token
"""

register("text_inverted_index", text_inverted_index, TEXT_INVERTED_SQL)


# ---------------------------------------------------------------------------
# DAU / WAU / stickiness
# ---------------------------------------------------------------------------
def events_dau_wau(spark: SparkSession, sf: str) -> DataFrame:
    """Daily + trailing-7-day active users and the stickiness ratio.

    WAU cannot be summed from daily distincts; each (user, active-day)
    pair is instead exploded onto the 7 report days it supports (a
    bounded map-side fan-out), then two distinct aggregates produce the
    exact counts.  Stickiness is integer ppm.  Report days are clipped
    to days that actually have events so every row is grounded.
    """
    events = load_table(spark, sf, "events")
    pairs = events.select(
        "user_id",
        # date, not timestamp — matches DuckDB date_trunc's DATE result
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    support = pairs.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    ).distinct()
    wau = (
        support.join(F.broadcast(dau.select("day")), "day", "left_semi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("(dau * 1000000L) div wau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


EVENTS_DAU_WAU_SQL = """
WITH pairs AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
dau AS (SELECT day, COUNT(*) AS dau FROM pairs GROUP BY day),
support AS (
  SELECT DISTINCT user_id, day + INTERVAL (o) DAY AS day
  FROM pairs, (SELECT unnest(range(7)) AS o)
),
wau AS (
  SELECT day, COUNT(*) AS wau FROM support
  WHERE day IN (SELECT day FROM dau)
  GROUP BY day
)
SELECT d.day, d.dau, w.wau,
  (d.dau * 1000000) // w.wau AS stickiness_ppm
FROM dau d JOIN wau w USING (day)
ORDER BY day
"""

register("events_dau_wau", events_dau_wau, EVENTS_DAU_WAU_SQL)


# ---------------------------------------------------------------------------
# Series staleness report
# ---------------------------------------------------------------------------
def ts_staleness(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series last-point age against the corpus watermark.

    The monitoring question every historian answers first: which series
    stopped updating?  "Now" is the global max timestamp (deterministic
    — wall clocks don't belong in oracle-checked queries); one grouped
    max per series plus a broadcast of the single watermark row.
    """
    events = load_table(spark, sf, "events")
    last = events.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_points"),
    )
    watermark = events.select(F.max("ts").alias("now_ts"))
    return (
        last.crossJoin(F.broadcast(watermark))
        .select(
            "event_type",
            "last_ts",
            "n_points",
            F.expr(
                "(unix_micros(now_ts) - unix_micros(last_ts)) div 1000000"
            ).alias("age_s"),
            (
                F.unix_micros("now_ts") - F.unix_micros("last_ts")
                > 86_400_000_000
            ).alias("stale_1d"),
        )
        .orderBy("event_type")
    )


TS_STALENESS_SQL = """
WITH last AS (
  SELECT event_type, MAX(ts) AS last_ts, COUNT(*) AS n_points
  FROM events GROUP BY event_type
),
wm AS (SELECT MAX(ts) AS now_ts FROM events)
SELECT event_type, last_ts, n_points,
  (epoch_us(now_ts) - epoch_us(last_ts)) // 1000000 AS age_s,
  epoch_us(now_ts) - epoch_us(last_ts) > 86400000000 AS stale_1d
FROM last, wm
ORDER BY event_type
"""

register("ts_staleness", ts_staleness, TS_STALENESS_SQL)


# ---------------------------------------------------------------------------
# Data-quality validation report (Deequ-style, one fused pass)
# ---------------------------------------------------------------------------
def lineitem_quality_report(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative validation of lineitem: 7 rules, one scan + one FK
    anti-join.

    `operators/validate.py` compiles the scalar rules (nulls, ranges,
    vocabulary, regex) into a single aggregate pass — rule count does
    not multiply scans — and the orders foreign key into one anti-join
    count.  The report row per rule is the contract a 100 TB ingest
    gate actually enforces.
    """
    from kukur_spark.operators import validate as V

    lineitem = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    rules = [
        V.not_null("l_orderkey"),
        V.non_negative("l_extendedprice"),
        V.in_range("l_discount", 0.0, 1.0),
        V.in_range("l_quantity", 1.0, 50.0),
        V.in_set("l_returnflag", ["A", "N", "R"]),
        V.unique("l_orderkey", "l_linenumber"),
        V.foreign_key(["l_orderkey"], orders, ["o_orderkey"]),
    ]
    return V.validate(lineitem, rules)


LINEITEM_QUALITY_SQL = """
WITH scalar AS (
  SELECT COUNT(*) AS n_rows,
    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS v_notnull,
    CAST(SUM(CASE WHEN l_extendedprice IS NULL OR l_extendedprice < 0
      THEN 1 ELSE 0 END) AS BIGINT) AS v_nonneg,
    CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0
      OR l_discount > 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
    CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
      OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
    CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
      OR l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_flag
  FROM lineitem
),
uniq AS (
  SELECT COUNT(*) AS n_rows,
    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
      AS n_violations
  FROM lineitem
),
fk AS (
  SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows,
    COUNT(*) AS n_violations
  FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_orderkey = l.l_orderkey)
)
SELECT rule, n_rows, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'not_null(l_orderkey)' AS rule, n_rows, v_notnull
    AS n_violations FROM scalar
  UNION ALL SELECT 'non_negative(l_extendedprice)', n_rows, v_nonneg
    FROM scalar
  UNION ALL SELECT 'in_range(l_discount,0.0,1.0)', n_rows, v_disc
    FROM scalar
  UNION ALL SELECT 'in_range(l_quantity,1.0,50.0)', n_rows, v_qty
    FROM scalar
  UNION ALL SELECT 'in_set(l_returnflag)', n_rows, v_flag FROM scalar
  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', n_rows,
    CAST(n_violations AS BIGINT) FROM uniq
  UNION ALL SELECT 'foreign_key(l_orderkey)', n_rows,
    CAST(n_violations AS BIGINT) FROM fk
)
ORDER BY rule
"""

register(
    "lineitem_quality_report", lineitem_quality_report, LINEITEM_QUALITY_SQL
)

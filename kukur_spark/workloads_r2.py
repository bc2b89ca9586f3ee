"""Round-2 workloads: bucketed interval join, repetition-based text
quality filters, deterministic stratified domain mixing.

Beyond-reference operators for the training-data pipeline (the
reference gateway computes none of these — SURVEY §2.3 records that
`kukur/source/__init__.py` has no join executor at all); every query
here has an exact DuckDB oracle. Hot paths are JVM-side column
expressions — Python never touches a row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.operators.asof import asof_join
from kukur_spark.operators.interval_join import interval_join
from kukur_spark.registry import register


# ---------------------------------------------------------------------------
# bucketed interval (range) join
# ---------------------------------------------------------------------------
GAP_US = 3_600_000_000  # intervals = sampling gaps > 1 h per event type


def ts_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-stream range join: for every >1 h silence window of one
    event type, count and total the events of *all* types inside it.

    This is the operator class Spark answers with a
    BroadcastNestedLoopJoin if written naively (no shared equi key).
    ``operators/interval_join.py`` rewrites it as an hourly-bin
    equi-join + residual range predicate: the only shuffle carries
    (bin, 24-byte rows), fan-out is bounded by interval length / 1 h,
    and AQE can split skewed bins. A plan test pins the absence of
    nested-loop/cartesian nodes.
    """
    events = load_table(spark, sf, "events")
    base = events.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    intervals = (
        base.select(
            F.col("event_type").alias("itype"),
            F.lag("ts_us").over(w).alias("start_us"),
            F.col("ts_us").alias("end_us"),
        )
        .filter(F.col("start_us").isNotNull())
        .filter(F.col("end_us") - F.col("start_us") > GAP_US)
    )
    joined = interval_join(
        base.select("ts_us", "event_type", "value"),
        intervals,
        ts_col="ts_us",
        start_col="start_us",
        end_col="end_us",
        bin_width_us=3_600_000_000,
    )
    return (
        joined.groupBy("itype", "start_us", "end_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.floor(
                F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000
            )
            .cast("long")
            .alias("value_e6"),
        )
        .orderBy("itype", "start_us")
    )


TS_INTERVAL_JOIN_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value FROM events
),
iv AS (
  SELECT event_type AS itype,
    LAG(ts_us) OVER (
      PARTITION BY event_type ORDER BY ts_us, event_id) AS start_us,
    ts_us AS end_us
  FROM base
)
SELECT itype, start_us, end_us,
  COUNT(*) AS n_events,
  COUNT(DISTINCT e.event_type) AS n_types,
  CAST(FLOOR(SUM(CAST(e.value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
    AS value_e6
FROM iv
JOIN base e ON e.ts_us >= iv.start_us AND e.ts_us < iv.end_us
WHERE iv.start_us IS NOT NULL AND iv.end_us - iv.start_us > 3600000000
GROUP BY itype, start_us, end_us
ORDER BY itype, start_us
"""


# ---------------------------------------------------------------------------
# repetition-based quality filters (Gopher-style)
# ---------------------------------------------------------------------------
def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document repetition counters used by corpus quality filters
    (duplicate-word fraction, most-frequent-word share, duplicate
    2-gram fraction — the ratios are integer-derivable downstream;
    integers are emitted so the cross-engine compare is bit-exact).

    Scale: one map-side projection, zero shuffles before the
    presentation orderBy. The most-frequent-word count is a run-length
    fold over the *sorted* word array (``aggregate`` over
    ``array_sort``) — no explode, no per-doc groupBy, so the operator
    costs O(words·log words) CPU inside whole-stage codegen and
    nothing on the network at any corpus size.
    """
    docs = load_table(spark, sf, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    base = docs.select("doc_id", ws.alias("ws"))
    n = F.size("ws")
    run = F.aggregate(
        F.array_sort("ws"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    bigrams = F.zip_with(
        F.slice("ws", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("ws", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return base.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.size(F.array_distinct("ws")).cast("long").alias("n_distinct"),
        run.alias("top_word_count"),
        F.size(F.array_distinct(bigrams))
        .cast("long")
        .alias("n_distinct_bigrams"),
    ).orderBy("doc_id")


TEXT_REPETITION_SQL = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
)
SELECT doc_id,
  CAST(len(ws) AS BIGINT) AS n_words,
  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
  CAST(COALESCE(list_max(list_transform(list_distinct(ws),
    wd -> len(list_filter(ws, x -> x = wd)))), 0) AS BIGINT)
    AS top_word_count,
  CAST(len(list_distinct(list_transform(generate_series(1, len(ws) - 1),
    i -> ws[i] || ' ' || ws[i + 1]))) AS BIGINT) AS n_distinct_bigrams
FROM w
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# deterministic stratified domain mixing
# ---------------------------------------------------------------------------
MIX_BUDGET_FRAC = "0.5"  # sample half the corpus, reweighted by domain


def _mix_weight_sql(col: str) -> str:
    return (
        f"CASE WHEN {col} IN ('src0','src1','src2','src3','src4') THEN 4 "
        f"WHEN {col} IN ('src5','src6','src7','src8','src9') THEN 2 "
        "ELSE 1 END"
    )


def docs_domain_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sample hitting a target domain mix.

    Domains get weights (4/2/1 here); the budget is half the corpus;
    each domain keeps ``min(floor(budget·weight/Σweights), available)``
    documents, chosen by md5-of-identity order so membership is stable
    across runs, engines and row order (same identity hash as
    ``docs_split_assign``).

    Scale: per-domain quotas come from a tiny count aggregate
    (broadcast back); selection is a rank-within-domain window. With
    few giant domains the window partition is skewed — the 100 TB
    variant replaces ``row_number`` with the distributed
    range-partitioned rank used by ``orders_rfm_segments``
    (md5 prefix buckets give a uniform pre-sort key, so quantile
    cutoffs per domain select the same set without a single-partition
    sort).
    """
    docs = load_table(spark, sf, "documents")
    weight = (
        F.when(
            F.col("source").isin("src0", "src1", "src2", "src3", "src4"), 4
        )
        .when(
            F.col("source").isin("src5", "src6", "src7", "src8", "src9"), 2
        )
        .otherwise(1)
        .cast("long")
    )
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("available")
    )
    totals = per_source.select(
        F.sum(weight).alias("total_weight"),
        F.sum("available").alias("total_docs"),
    )
    quotas = per_source.crossJoin(F.broadcast(totals)).select(
        "source",
        F.least(
            F.floor(
                F.col("total_docs")
                * F.expr(MIX_BUDGET_FRAC)
                * weight
                / F.col("total_weight")
            ).cast("long"),
            F.col("available"),
        ).alias("quota"),
    )
    order_key = F.md5(
        F.concat_ws(":", F.col("source"), F.col("doc_id"))
    )
    ranked = docs.select(
        "doc_id", "source", order_key.alias("pick_key")
    ).withColumn(
        "pick_rank",
        F.row_number().over(
            Window.partitionBy("source").orderBy("pick_key", "doc_id")
        ),
    )
    return (
        ranked.join(F.broadcast(quotas), "source")
        .filter(F.col("pick_rank") <= F.col("quota"))
        .select("doc_id", "source", F.col("pick_rank").cast("long").alias("pick_rank"))
        .orderBy("source", "pick_rank")
    )


DOCS_DOMAIN_MIX_SQL = f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS available,
    {_mix_weight_sql('source')} AS w
  FROM documents GROUP BY source
),
totals AS (
  SELECT SUM(w) AS total_weight, SUM(available) AS total_docs
  FROM per_source
),
quotas AS (
  SELECT source,
    LEAST(CAST(FLOOR(total_docs * {MIX_BUDGET_FRAC} * w / total_weight)
      AS BIGINT), available) AS quota
  FROM per_source, totals
),
ranked AS (
  SELECT doc_id, source,
    ROW_NUMBER() OVER (
      PARTITION BY source
      ORDER BY md5(concat(source, ':', CAST(doc_id AS VARCHAR))), doc_id
    ) AS pick_rank
  FROM documents
)
SELECT r.doc_id, r.source, CAST(r.pick_rank AS BIGINT) AS pick_rank
FROM ranked r JOIN quotas q ON r.source = q.source
WHERE r.pick_rank <= q.quota
ORDER BY r.source, r.pick_rank
"""


# ---------------------------------------------------------------------------
# nearest as-of join with tolerance
# ---------------------------------------------------------------------------
ASOF_TOLERANCE_US = 2 * 3_600_000_000  # 2 h


def ts_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-match as-of join with a tolerance bound: each error event
    matched to the user's *closest* purchase (past or future) within 2 h
    — the ``pandas.merge_asof(direction="nearest", tolerance=...)``
    shape.

    Runs through ``operators/asof.py``'s union+window form: backward and
    forward scans share ONE shuffle on user_id (same partitioning, two
    in-partition sorts), pick-the-closer is a null-safe projection. The
    oracle cross-checks against DuckDB's native ASOF JOIN in both
    directions plus the same tie rule (equidistant → backward).
    """
    events = load_table(spark, sf, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value")
        .withColumn("pts", F.col("ts"))
    )
    matched = asof_join(
        errors,
        purchases,
        on=["user_id"],
        value_columns=["value", "pts"],
        direction="nearest",
        tolerance_us=ASOF_TOLERANCE_US,
    )
    return matched.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").alias("purchase_value"),
        F.abs(F.unix_micros("ts") - F.unix_micros("pts")).alias("dist_us"),
    ).orderBy("event_id")


TS_ASOF_NEAREST_SQL = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'error'
),
p AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE event_type = 'purchase'
),
b AS (
  SELECT e.event_id, e.ts_us AS ets, p.ts_us AS mts, p.value AS mval
  FROM e ASOF LEFT JOIN p
    ON e.user_id = p.user_id AND e.ts_us >= p.ts_us
),
f AS (
  SELECT e.event_id, p.ts_us AS mts, p.value AS mval
  FROM e ASOF LEFT JOIN p
    ON e.user_id = p.user_id AND e.ts_us <= p.ts_us
),
c AS (
  SELECT b.event_id, b.ets,
    CASE WHEN b.mts IS NULL THEN f.mval
         WHEN f.mts IS NULL THEN b.mval
         WHEN b.ets - b.mts <= f.mts - b.ets THEN b.mval
         ELSE f.mval END AS purchase_value,
    CASE WHEN b.mts IS NULL THEN f.mts - b.ets
         WHEN f.mts IS NULL THEN b.ets - b.mts
         WHEN b.ets - b.mts <= f.mts - b.ets THEN b.ets - b.mts
         ELSE f.mts - b.ets END AS dist_us
  FROM b JOIN f USING (event_id)
)
SELECT event_id, ets AS ts_us, purchase_value,
  CAST(dist_us AS BIGINT) AS dist_us
FROM c
WHERE dist_us IS NOT NULL AND dist_us <= 7200000000
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# interval merge (union of overlapping windows)
# ---------------------------------------------------------------------------
def _merge_pass(iv: DataFrame, partition_cols) -> DataFrame:
    """One interval-merge pass: within each partition group, coalesce
    overlapping-or-touching [start,end) windows (classic running-max
    sweep). Exact when the partition is global; a partitioned pass is a
    cardinality reducer whose output a global pass merges exactly
    (interval merging is confluent)."""
    w_order = Window.partitionBy(*partition_cols).orderBy(
        "start_us", "end_us"
    )
    prev_max = F.max("end_us").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_grp",
        F.when(
            prev_max.isNull() | (F.col("start_us") > prev_max), 1
        ).otherwise(0),
    ).withColumn(
        "gid",
        F.sum("new_grp").over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return flagged.groupBy(*partition_cols, "gid").agg(
        F.min("start_us").alias("start_us"),
        F.max("end_us").alias("end_us"),
        F.sum("n_merged").alias("n_merged"),
    )


def ts_merge_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Global outage windows: the per-type >1 h silence intervals merged
    across event types wherever they overlap or touch.

    Scale shape: :func:`kukur_spark.operators.scale.merge_intervals` — a
    fully distributed sweep (range partition → keyed local running max →
    O(#partitions) boundary summaries → broadcast correction).  No task
    ever holds more than one range partition of intervals; the earlier
    two-pass form pushed every pass-1 survivor through a single global
    window task.  Gap detection uses
    :func:`kukur_spark.operators.scale.keyed_lag` instead of a plain
    per-type window: with 5 event types the naive window caps the
    10M-row sort at 5 tasks; keyed_lag keeps it #partitions-wide
    (row-identical, test-pinned).  The oracle is the one-pass global
    sweep in DuckDB.
    """
    from kukur_spark.operators.scale import keyed_lag, merge_intervals

    events = load_table(spark, sf, "events")
    base = events.select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    lagged = keyed_lag(
        base, ["event_type"], ["ts_us", "event_id"], "ts_us", "start_us"
    )
    iv = (
        lagged.select("start_us", F.col("ts_us").alias("end_us"))
        .filter(F.col("start_us").isNotNull())
        .filter(F.col("end_us") - F.col("start_us") > GAP_US)
        .withColumn("n_merged", F.lit(1).cast("long"))
    )
    merged = merge_intervals(iv)
    return merged.select(
        "start_us", "end_us", F.col("n_merged").cast("long").alias("n_merged")
    ).orderBy("start_us")


TS_MERGE_INTERVALS_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id FROM events
),
iv AS (
  SELECT
    LAG(ts_us) OVER (
      PARTITION BY event_type ORDER BY ts_us, event_id) AS start_us,
    ts_us AS end_us
  FROM base
),
keep AS (
  SELECT start_us, end_us FROM iv
  WHERE start_us IS NOT NULL AND end_us - start_us > 3600000000
),
flagged AS (
  SELECT start_us, end_us,
    CASE WHEN start_us > COALESCE(MAX(end_us) OVER (
        ORDER BY start_us, end_us
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      THEN 1 ELSE 0 END AS new_grp
  FROM keep
),
grouped AS (
  SELECT start_us, end_us,
    SUM(new_grp) OVER (
      ORDER BY start_us, end_us
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
  FROM flagged
)
SELECT MIN(start_us) AS start_us, MAX(end_us) AS end_us,
  COUNT(*) AS n_merged
FROM grouped GROUP BY gid ORDER BY start_us
"""


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------
def emb_int8_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric per-vector int8 quantization with reconstruction-error
    report — the storage-shrink step before ANN indexing (4× smaller
    vectors; cf. the IVF/PQ operators in ``operators/similarity.py``).

    scale = max|x| / 127; q_i = floor(x_i/scale + 0.5) (round-half-up,
    identical in both engines); error = max_i |x_i − q_i·scale|. One
    map-side projection over the embedding column, all JVM higher-order
    functions; the e9 fixed-point outputs keep the cross-engine compare
    bit-exact.
    """
    emb = load_table(spark, sf, "embeddings")
    x = F.col("embedding")
    scale = (
        F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
        / 127.0
    )
    base = emb.select("vec_id", "embedding", scale.alias("scale"))
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") / F.col("scale") + 0.5).cast(
                "int"
            ),
        ),
    ).otherwise(F.transform(F.col("embedding"), lambda v: F.lit(0)))
    quantized = base.withColumn("qv", q)
    err = F.array_max(
        F.zip_with(
            F.col("embedding"),
            F.col("qv"),
            lambda v, qq: F.abs(
                v.cast("double") - qq.cast("double") * F.col("scale")
            ),
        )
    )
    return quantized.select(
        "vec_id",
        F.floor(F.col("scale") * 1e9).cast("long").alias("scale_e9"),
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("sum_q"),
        F.floor(err * 1e9).cast("long").alias("err_e9"),
    ).orderBy("vec_id")


EMB_INT8_SQL = """
WITH s AS (
  SELECT vec_id, embedding,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
      AS scale
  FROM embeddings
),
q AS (
  SELECT vec_id, embedding, scale,
    CASE WHEN scale > 0 THEN
      list_transform(embedding,
        x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS INT))
    ELSE list_transform(embedding, x -> 0) END AS qv
  FROM s
)
SELECT vec_id,
  CAST(FLOOR(scale * 1e9) AS BIGINT) AS scale_e9,
  CAST(list_sum(qv) AS BIGINT) AS sum_q,
  CAST(FLOOR(list_max(list_transform(generate_series(1, len(embedding)),
    i -> abs(CAST(embedding[i] AS DOUBLE) - qv[i] * scale))) * 1e9)
    AS BIGINT) AS err_e9
FROM q
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# BPE-style pre-tokenization counts
# ---------------------------------------------------------------------------
PRETOKEN_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def text_pretokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (letter runs,
    single digits, single symbols — the GPT-2 pre-split shape reduced to
    its deterministic ASCII core so Java and RE2 regex engines agree).

    One map-side projection: ``regexp_extract_all`` + array math, no
    explode, no shuffle before the presentation sort.
    """
    docs = load_table(spark, sf, "documents")
    toks = F.regexp_extract_all("text", F.lit(PRETOKEN_PATTERN), 0)
    base = docs.select("doc_id", toks.alias("toks"))
    alpha = F.filter(F.col("toks"), lambda t: t.rlike("^[A-Za-z]"))
    digit = F.filter(F.col("toks"), lambda t: t.rlike("^[0-9]"))
    return base.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_pretokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        F.size(alpha).cast("long").alias("n_alpha"),
        F.size(digit).cast("long").alias("n_digit"),
        (F.size("toks") - F.size(alpha) - F.size(digit))
        .cast("long")
        .alias("n_symbol"),
    ).orderBy("doc_id")


TEXT_PRETOKENIZE_SQL = """
WITH t AS (
  SELECT doc_id,
    regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]') AS toks
  FROM documents
)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_pretokens,
  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
  CAST(len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]')))
    AS BIGINT) AS n_alpha,
  CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]')))
    AS BIGINT) AS n_digit,
  CAST(len(toks)
    - len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]')))
    - len(list_filter(toks, x -> regexp_matches(x, '^[0-9]')))
    AS BIGINT) AS n_symbol
FROM t
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# cumulative distinct users (expanding-window rewrite)
# ---------------------------------------------------------------------------
def events_cumulative_users(spark: SparkSession, sf: str) -> DataFrame:
    """Daily new-user count and running distinct-user total.

    The naive formulation — ``COUNT(DISTINCT user_id) OVER (ORDER BY day
    ROWS UNBOUNDED PRECEDING)`` — Spark rejects outright, and any
    expanding-distinct implementation carries O(users) state per row.
    The scalable rewrite: a user contributes exactly on their *first*
    day, so ``min(day) per user`` (one shuffle, map-side combinable) →
    per-day count of first appearances (tiny) → running sum over the
    day axis (hundreds of rows, single-partition window is free).
    """
    events = load_table(spark, sf, "events")
    first_day = events.groupBy("user_id").agg(
        F.min(
            F.unix_micros(F.date_trunc("day", F.col("ts")))
        ).alias("first_day_us")
    )
    daily = first_day.groupBy("first_day_us").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = Window.orderBy("first_day_us").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return daily.select(
        F.col("first_day_us").alias("day_us"),
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day_us")


EVENTS_CUMULATIVE_USERS_SQL = """
WITH first_day AS (
  SELECT user_id,
    MIN(epoch_us(date_trunc('day', ts))) AS first_day_us
  FROM events GROUP BY user_id
),
daily AS (
  SELECT first_day_us AS day_us, COUNT(*) AS n_new_users
  FROM first_day GROUP BY first_day_us
)
SELECT day_us, n_new_users,
  CAST(SUM(n_new_users) OVER (
    ORDER BY day_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS BIGINT) AS cum_users
FROM daily
ORDER BY day_us
"""


register("ts_interval_join", ts_interval_join, TS_INTERVAL_JOIN_SQL)
register("text_repetition", text_repetition, TEXT_REPETITION_SQL)
register("docs_domain_mix", docs_domain_mix, DOCS_DOMAIN_MIX_SQL)
register("ts_asof_nearest", ts_asof_nearest, TS_ASOF_NEAREST_SQL)
register("ts_merge_intervals", ts_merge_intervals, TS_MERGE_INTERVALS_SQL)
register("emb_int8_quantize", emb_int8_quantize, EMB_INT8_SQL)
register("text_pretokenize", text_pretokenize, TEXT_PRETOKENIZE_SQL)
register(
    "events_cumulative_users",
    events_cumulative_users,
    EVENTS_CUMULATIVE_USERS_SQL,
)

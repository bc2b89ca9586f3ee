"""Training-data pipeline operators, round 2: deterministic splits,
decontamination, pipeline yield, retention cohorts, embedding-dimension
stats, seasonal-residual anomalies.

Beyond-reference operators (north-star §"large-scale training-data
pipeline"); every query has an exact DuckDB oracle. All hot paths are
JVM-side column expressions — Python never touches a row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table, persist_once
from kukur_spark.operators.similarity import as_double_sql
from kukur_spark.oracle_sql import pq_enc_scored_sql
from kukur_spark.registry import register


# ---------------------------------------------------------------------------
# deterministic train/val/test split
# ---------------------------------------------------------------------------
def docs_split_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Stable train/val/test assignment by content-independent hash.

    Split membership must survive re-runs, engine changes and corpus
    growth, so it hashes the immutable identity (source:doc_id) — never
    row order or text.  md5's first hex nibble buckets 16 ways:
    0-b → train (12/16), c-d → val (2/16), e-f → test (2/16).
    Scale: a pure map-side projection — zero shuffles before the
    presentation orderBy; at 100 TB this is a free column on the scan.
    """
    docs = load_table(spark, sf, "documents")
    nibble = F.substring(
        F.md5(F.concat_ws(":", F.col("source"), F.col("doc_id"))), 1, 1
    )
    return docs.select(
        "doc_id",
        "source",
        F.when(nibble < "c", "train")
        .when(nibble < "e", "val")
        .otherwise("test")
        .alias("split"),
    ).orderBy("doc_id")


DOCS_SPLIT_SQL = """
SELECT doc_id, source,
  CASE WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 1) < 'c'
       THEN 'train'
       WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 1) < 'e'
       THEN 'val'
       ELSE 'test' END AS split
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------
def docs_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Token-overlap contamination of each doc against a benchmark set.

    Benchmark = every 25th doc (stands in for an eval set).  Score =
    |distinct doc tokens ∩ benchmark vocabulary| / |distinct doc tokens|,
    scaled e6.  The benchmark vocabulary is a distinct-token frame —
    small by construction — broadcast into the membership join, so the
    corpus explodes its tokens map-side and aggregates back per doc
    without ever joining doc×doc pairs (contrast ngram_jaccard's blocked
    pair join).  One shuffle on (doc) for the count-back.
    """
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.col("text"), " "))
        ).alias("tok"),
    )
    bench_vocab = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        toks.join(F.broadcast(bench_vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            "doc_id",
            F.expr("hits * 1000000 div n_tokens").alias("contamination_e6"),
            "n_tokens",
        )
        .orderBy("doc_id")
    )


DOCS_DECONTAMINATE_SQL = """
WITH vocab AS (
  SELECT DISTINCT unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents WHERE doc_id % 25 = 0
),
doc_toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
)
SELECT d.doc_id,
  CAST(CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       * 1000000 // COUNT(*) AS BIGINT) AS contamination_e6,
  COUNT(*) AS n_tokens
FROM doc_toks d LEFT JOIN vocab v USING (tok)
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# pipeline yield report
# ---------------------------------------------------------------------------
def docs_pipeline_yield(spark: SparkSession, sf: str) -> DataFrame:
    """Survivor counts through a staged cleaning funnel.

    Stages: raw → length (n_chars ≥ 120) → language (en) → token floor
    (≥ 25 tokens) → exact-dedup survivor (lowest doc_id per text hash).
    Conditional aggregation over ONE corpus scan — stages are cumulative
    booleans, so no per-stage subquery re-scans; the dedup rank is the
    only shuffle (window on the text fingerprint).
    """
    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        "n_chars",
        "lang",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.md5(F.col("text")).alias("fp"),
    )
    keep_rank = Window.partitionBy("fp").orderBy("doc_id")
    flagged = (
        docs.withColumn("is_canonical", F.row_number().over(keep_rank) == 1)
        .withColumn("s1", F.col("n_chars") >= 120)
        .withColumn("s2", F.col("s1") & (F.col("lang") == "en"))
        .withColumn("s3", F.col("s2") & (F.col("n_toks") >= 25))
        .withColumn("s4", F.col("s3") & F.col("is_canonical"))
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("raw"),
        F.sum(F.col("s1").cast("long")).alias("len_ok"),
        F.sum(F.col("s2").cast("long")).alias("lang_ok"),
        F.sum(F.col("s3").cast("long")).alias("tok_ok"),
        F.sum(F.col("s4").cast("long")).alias("deduped"),
    )
    stages = [
        ("1_raw", "raw"), ("2_len", "len_ok"), ("3_lang", "lang_ok"),
        ("4_tok", "tok_ok"), ("5_dedup", "deduped"),
    ]
    return (
        agg.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(name).alias("stage"), F.col(col).alias("docs")
                    )
                    for name, col in stages
                ])
            ).alias("s")
        )
        .select("s.stage", "s.docs")
        .orderBy("stage")
    )


DOCS_YIELD_SQL = """
WITH flagged AS (
  SELECT n_chars, lang,
    len(string_split(text, ' ')) AS n_toks,
    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
      AS is_canonical
  FROM documents
),
agg AS (
  SELECT COUNT(*) AS raw,
    CAST(SUM(CASE WHEN n_chars >= 120 THEN 1 ELSE 0 END) AS BIGINT) AS len_ok,
    CAST(SUM(CASE WHEN n_chars >= 120 AND lang = 'en'
             THEN 1 ELSE 0 END) AS BIGINT) AS lang_ok,
    CAST(SUM(CASE WHEN n_chars >= 120 AND lang = 'en' AND n_toks >= 25
             THEN 1 ELSE 0 END) AS BIGINT) AS tok_ok,
    CAST(SUM(CASE WHEN n_chars >= 120 AND lang = 'en' AND n_toks >= 25
                  AND is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS deduped
  FROM flagged
)
SELECT '1_raw' AS stage, raw AS docs FROM agg
UNION ALL SELECT '2_len', len_ok FROM agg
UNION ALL SELECT '3_lang', lang_ok FROM agg
UNION ALL SELECT '4_tok', tok_ok FROM agg
UNION ALL SELECT '5_dedup', deduped FROM agg
ORDER BY stage
"""


# ---------------------------------------------------------------------------
# retention cohorts
# ---------------------------------------------------------------------------
def events_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort (first-seen day) × day-offset distinct-user retention.

    The cohort day rides along from one user-key aggregate (min day per
    user) joined back on user_id; the matrix is a (cohort, offset)
    count-distinct.  Two key shuffles total; both partial-aggregate
    map-side.  No window over the raw stream.
    """
    events = load_table(spark, sf, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    cohorts = events.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        events.join(cohorts, "user_id")
        .groupBy(
            F.unix_micros("cohort_day").alias("cohort_day_us"),
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("users"))
        .orderBy("cohort_day_us", "day_offset")
    )


EVENTS_RETENTION_SQL = """
WITH days AS (
  SELECT user_id, date_trunc('day', ts) AS day FROM events
),
cohorts AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT epoch_us(cohort_day) AS cohort_day_us,
  date_diff('day', cohort_day, day) AS day_offset,
  CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS users
FROM days d JOIN cohorts c USING (user_id)
GROUP BY cohort_day, day_offset
ORDER BY cohort_day_us, day_offset
"""


# ---------------------------------------------------------------------------
# embedding dimension statistics
# ---------------------------------------------------------------------------
def emb_dim_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension corpus stats (mean_e6 / min / max) for normalization.

    posexplode keeps (dim, value) pairs skinny on the single (dim)
    aggregate shuffle; means go through the decimal bridge so the e6
    floor is order-independent (bit-exact vs the oracle).  At 100 TB the
    shuffle carries num_dims × partitions partial rows — nothing else.
    """
    emb = load_table(spark, sf, "embeddings")
    dims = emb.select(F.posexplode(F.col("embedding")).alias("pos", "v"))
    return (
        dims.groupBy((F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.floor(
                F.sum(F.col("v").cast("double").cast("decimal(30,10)"))
                * 1_000_000
            ).cast("long").alias("sum_e6"),
            F.min(F.col("v").cast("double")).alias("min_v"),
            F.max(F.col("v").cast("double")).alias("max_v"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "dim",
            F.expr("sum_e6 div n").alias("mean_e6"),
            "min_v",
            "max_v",
            "n",
        )
        .orderBy("dim")
    )


EMB_DIM_STATS_SQL = """
WITH dims AS (
  SELECT unnest(generate_series(1, len(embedding))) AS dim, embedding
  FROM embeddings
)
SELECT dim,
  CAST(FLOOR(SUM(CAST(CAST(embedding[dim] AS DOUBLE) AS DECIMAL(30,10)))
       * 1000000) AS BIGINT) // COUNT(*) AS mean_e6,
  MIN(CAST(embedding[dim] AS DOUBLE)) AS min_v,
  MAX(CAST(embedding[dim] AS DOUBLE)) AS max_v,
  COUNT(*) AS n
FROM dims
GROUP BY dim
ORDER BY dim
"""


# ---------------------------------------------------------------------------
# seasonal-residual anomalies
# ---------------------------------------------------------------------------
def ts_seasonal_residual_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Events whose value deviates > 3σ from the per-(series, hour-of-day)
    seasonal mean — the seasonal-profile-adjusted twin of plain z-score
    outliers.

    Profile stats (mean/stddev per series×hour, 24×|series| rows) come
    from one partial-aggregated shuffle and broadcast back; the outlier
    predicate is then a map-side expression on the original stream.
    Exactness: the residual is compared through e6-scaled decimal means,
    and σ² uses the decimal-bridged moment form n·Σv² − (Σv)² over e6
    integers, so the 3σ cut is bit-identical cross-engine.
    """
    events = load_table(spark, sf, "events").select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.hour("ts").cast("long").alias("hod"),
        "value",
    )
    # moment sums land as exact e6 integers (decimal bridge); v·v is the
    # same IEEE double in both engines, so its bridged sum is too
    stats = events.groupBy("event_type", "hod").agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sum_e6"),
        F.floor(
            F.sum((F.col("value") * F.col("value")).cast("decimal(30,10)"))
            * 1_000_000
        ).cast("long").alias("sumsq_e6"),
        F.count(F.lit(1)).alias("n"),
    )
    joined = events.join(F.broadcast(stats), ["event_type", "hod"])
    # predicate evaluated in double from the exact integer sums with the
    # same operation order as the oracle SQL: identical inputs + identical
    # IEEE ops == identical comparison outcomes, no epsilon needed
    mean = F.col("sum_e6").cast("double") / F.col("n") / 1_000_000.0
    msq = F.col("sumsq_e6").cast("double") / F.col("n") / 1_000_000.0
    dev = F.col("value") - mean
    variance = msq - mean * mean
    return (
        joined.filter((F.col("n") > 1) & (dev * dev > 9.0 * variance))
        .select("event_type", "ts_us", "event_id", "value", "hod")
        .orderBy("event_type", "ts_us", "event_id")
    )


TS_SEASONAL_RESIDUAL_SQL = """
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod, value
  FROM events
),
stats AS (
  SELECT event_type, hod,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS sum_e6,
    CAST(FLOOR(SUM(CAST(value * value AS DECIMAL(30,10))) * 1000000)
      AS BIGINT) AS sumsq_e6,
    COUNT(*) AS n
  FROM base GROUP BY event_type, hod
)
SELECT b.event_type, b.ts_us, b.event_id, b.value, b.hod
FROM base b JOIN stats s USING (event_type, hod)
WHERE s.n > 1 AND
  (b.value - CAST(s.sum_e6 AS DOUBLE) / s.n / 1000000.0)
  * (b.value - CAST(s.sum_e6 AS DOUBLE) / s.n / 1000000.0)
  > 9.0 * (CAST(s.sumsq_e6 AS DOUBLE) / s.n / 1000000.0
           - (CAST(s.sum_e6 AS DOUBLE) / s.n / 1000000.0)
             * (CAST(s.sum_e6 AS DOUBLE) / s.n / 1000000.0))
ORDER BY b.event_type, b.ts_us, b.event_id
"""


register("docs_split_assign", docs_split_assign, DOCS_SPLIT_SQL)
register("docs_decontaminate", docs_decontaminate, DOCS_DECONTAMINATE_SQL)
register("docs_pipeline_yield", docs_pipeline_yield, DOCS_YIELD_SQL)
register(
    "events_retention_cohorts", events_retention_cohorts, EVENTS_RETENTION_SQL
)
register("emb_dim_stats", emb_dim_stats, EMB_DIM_STATS_SQL)
register(
    "ts_seasonal_residual_outliers",
    ts_seasonal_residual_outliers,
    TS_SEASONAL_RESIDUAL_SQL,
)


# ---------------------------------------------------------------------------
# market-basket co-occurrence
# ---------------------------------------------------------------------------
def orders_market_basket(spark: SparkSession, sf: str) -> DataFrame:
    """Top part pairs co-occurring within an order (support counts).

    The pair fan-out is the classic self-join on the basket key — bounded
    by per-order line count squared, never corpus-quadratic; both sides
    co-partition on l_orderkey so the join is one shuffle of the skinny
    (orderkey, partkey) projection.  Distinct parts per order first, so
    duplicate lines of one part don't inflate support.
    """
    lines = (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    left = lines.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part_a")
    )
    right = lines.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part_b")
    )
    pairs = left.join(right, "okey").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.col("support").desc(), "part_a", "part_b")
    )


ORDERS_BASKET_SQL = """
WITH lines AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
  COUNT(*) AS support
FROM lines a JOIN lines b ON a.l_orderkey = b.l_orderkey
  AND a.l_partkey < b.l_partkey
GROUP BY part_a, part_b
HAVING COUNT(*) >= 2
ORDER BY support DESC, part_a, part_b
"""


# ---------------------------------------------------------------------------
# downtime intervals (merged gap windows)
# ---------------------------------------------------------------------------
def ts_downtime_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series daily downtime report: count and total duration of
    sampling gaps longer than 10 minutes, attributed to the day the gap
    starts.

    The gap stream is the lag-window projection of ts_gap_detect; the
    report is one partial+final aggregate over (series, day) — two
    shuffles total, no arrays, no iteration.
    """
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    base = events.select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    prev = F.lag("ts_us").over(w)
    gaps = (
        base.withColumn("gap_start_us", prev)
        .withColumn("gap_us", F.col("ts_us") - prev)
        .filter(F.col("gap_us") > 10 * 60 * 1_000_000)
    )
    return (
        gaps.groupBy(
            "event_type",
            (
                F.col("gap_start_us") - F.col("gap_start_us") % 86_400_000_000
            ).alias("day_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_us").alias("downtime_us"),
            F.max("gap_us").alias("longest_gap_us"),
        )
        .orderBy("event_type", "day_us")
    )


TS_DOWNTIME_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id FROM events
),
gaps AS (
  SELECT event_type,
    LAG(ts_us) OVER (
      PARTITION BY event_type ORDER BY ts_us, event_id) AS gap_start_us,
    ts_us - LAG(ts_us) OVER (
      PARTITION BY event_type ORDER BY ts_us, event_id) AS gap_us
  FROM base
)
SELECT event_type,
  gap_start_us - gap_start_us % 86400000000 AS day_us,
  COUNT(*) AS n_gaps,
  CAST(SUM(gap_us) AS BIGINT) AS downtime_us,
  MAX(gap_us) AS longest_gap_us
FROM gaps
WHERE gap_us > 600000000
GROUP BY event_type, day_us
ORDER BY event_type, day_us
"""

register("orders_market_basket", orders_market_basket, ORDERS_BASKET_SQL)
register("ts_downtime_intervals", ts_downtime_intervals, TS_DOWNTIME_SQL)


# ---------------------------------------------------------------------------
# product-quantization ANN (ADC top-k)
# ---------------------------------------------------------------------------
_PQ_M = 8          # subspaces
_PQ_DSUB = 8       # dims per subspace (64-dim embeddings)
_PQ_CODES = 16     # codebook entries per subspace (seeds: vec_id 0..15)
_PQ_K = 5
_PQ_QUERIES = 10


def _pq_sq_fold_sql(sub_expr: str, ref_expr: str) -> str:
    """``aggregate(zip_with(...), 0.0, +)`` — 0.0+t1+…+tn == t1+…+tn
    (squares are non-negative), the oracle's left-associative chain."""
    return (
        f"aggregate(zip_with({sub_expr}, {ref_expr}, "
        "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)"
    )


def _pq_codebook_df(emb: DataFrame) -> DataFrame:
    """One-row LAZY codebook table: ``cb0..cb{M-1}``, each an array of
    ``_PQ_CODES`` sub-vector arrays (the lowest-id seed vectors sliced
    per subspace, ordered by vec_id).

    Replaces the former eager 16-row ``collect()`` into driver-side
    literals: the derivation now stays in the lineage (recomputed per
    action, never memoized), so query CONSTRUCTION runs no Spark job —
    the collect cost ~0.2 s per construction and the literal arrays
    another ~0.3 s of expression analysis (round 11, guide §5: the
    driver should do no data work).  Values are bit-identical either
    way: the same parquet floats, double-cast, in the same vec_id
    order.  A degenerate corpus (< ``_PQ_CODES`` seed vectors) yields
    ZERO rows, so every downstream cross join — and the query result —
    is empty with the declared schema, matching the former eager
    guard's empty DataFrame."""
    return (
        emb.filter(F.col("vec_id") < _PQ_CODES)
        .groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(vec_id, v))),"
                " p -> p.v)"
            ).alias("__vs")
        )
        .filter(F.size("__vs") >= _PQ_CODES)
        .selectExpr(
            *[
                f"transform(__vs, x -> slice(x, {s * _PQ_DSUB + 1},"
                f" {_PQ_DSUB})) AS cb{s}"
                for s in range(_PQ_M)
            ]
        )
    )


def _pq_encode(emb: DataFrame, cbdf: DataFrame) -> DataFrame:
    """PQ codes per vector: ``neighbor_id, code0..code{M-1}`` — per
    subspace argmin over the 16 codebook entries (array_position of the
    min → ties resolve to the lowest code).  The codebook arrives as a
    broadcast one-row cross join; the 16 distances are a ``transform``
    over the codebook array — the same ``zip_with`` fold per entry, in
    the same order, as the former 16 inlined literal folds."""
    enc = emb.crossJoin(F.broadcast(cbdf)).select(
        "vec_id",
        *[
            F.slice("v", s * _PQ_DSUB + 1, _PQ_DSUB).alias(f"sub{s}")
            for s in range(_PQ_M)
        ],
        *[f"cb{s}" for s in range(_PQ_M)],
    )
    code_cols = []
    for s in range(_PQ_M):
        dists = (
            f"transform(cb{s}, __r -> "
            + _pq_sq_fold_sql(f"sub{s}", "__r")
            + ")"
        )
        code_cols.append(
            F.expr(
                f"cast(array_position({dists}, array_min({dists})) - 1"
                " as int)"
            ).alias(f"code{s}")
        )
    return enc.select(F.col("vec_id").alias("neighbor_id"), *code_cols)


def emb_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN: encode the corpus once, answer queries
    from code lookups (asymmetric distance computation).

    Completes the ANN family (brute force / LSH / IVF): PQ is the
    memory-scale path — each 64-dim float vector compresses to 8 one-byte
    codes, so a 100 TB embedding corpus becomes ~1.5 TB of codes that
    *stay* distributed; queries compare against codebook reconstructions,
    never raw vectors.  Codebooks are the embeddings of vec_id 0..15
    sliced per subspace, shipped as driver-side literals (the LSH-planes
    pattern — no per-row codebook join).  Encoding and ADC are pure
    column expressions; every float addition chain is written in the same
    left-associative order as the oracle SQL, so distances are IEEE-
    identical cross-engine.  One shuffle: the per-query top-k window.
    """
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id",
        F.expr(as_double_sql("embedding")).alias("v"),
    )
    # lazy one-row codebook (see _pq_codebook_df); cached so the encode
    # branch and the reconstruction branch compute the seed aggregate
    # once per action, and a degenerate corpus (zero codebook rows)
    # empties the whole result through the cross joins
    cbdf = persist_once(_pq_codebook_df(emb))
    codes = _pq_encode(emb, cbdf)
    queries = emb.filter(F.col("vec_id") < _PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # reconstruct each neighbor once per subspace (one element_at into the
    # broadcast codebook), then fold the query diff against that column
    sq_fold_sql = _pq_sq_fold_sql
    joined = (
        codes.join(F.broadcast(queries))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .crossJoin(F.broadcast(cbdf))
        .select(
            "query_id",
            "neighbor_id",
            *[
                F.slice("qv", s * _PQ_DSUB + 1, _PQ_DSUB).alias(f"qsub{s}")
                for s in range(_PQ_M)
            ],
            *[
                F.expr(f"element_at(cb{s}, code{s} + 1)").alias(f"rec{s}")
                for s in range(_PQ_M)
            ],
        )
    )
    adc = F.expr(
        " + ".join(sq_fold_sql(f"qsub{s}", f"rec{s}") for s in range(_PQ_M))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        joined.withColumn("adc", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc", 6).alias("adc"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def _pq_sql() -> str:
    """Oracle: identical math with seeds from the table (same parquet
    floats the Spark literals came from), same left-assoc chains."""
    m, dsub, codes, k, nq = _PQ_M, _PQ_DSUB, _PQ_CODES, _PQ_K, _PQ_QUERIES

    enc_unions = pq_enc_scored_sql(m, dsub)
    code_cols = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN code END) AS code{s}" for s in range(m)
    )
    seed_joins = "\n".join(
        f"JOIN seeds s{s} ON s{s}.vec_id = c.code{s}" for s in range(m)
    )
    adc = " + ".join(
        "(" + " + ".join(
            f"(CAST(q.qv[{s * dsub + d + 1}] AS DOUBLE)"
            f" - CAST(s{s}.embedding[{s * dsub + d + 1}] AS DOUBLE))"
            f" * (CAST(q.qv[{s * dsub + d + 1}] AS DOUBLE)"
            f" - CAST(s{s}.embedding[{s * dsub + d + 1}] AS DOUBLE))"
            for d in range(dsub)
        ) + ")"
        for s in range(m)
    )
    return f"""
WITH seeds AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {codes}
),
enc_scored AS (
{enc_unions}
),
enc AS (
  SELECT vec_id, s, c AS code FROM (
    SELECT vec_id, s, c,
      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
    FROM enc_scored
  ) WHERE rn = 1
),
codes AS (
  SELECT vec_id AS neighbor_id, {code_cols} FROM enc GROUP BY vec_id
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {nq}
),
scored AS (
  SELECT q.query_id, c.neighbor_id, {adc} AS adc
  FROM codes c
{seed_joins}
  , q
  WHERE q.query_id <> c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, adc,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM ranked_src
)
SELECT query_id, neighbor_id, round(adc, 6) AS adc,
  CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
""".replace("ranked_src", "scored")


register("emb_pq_topk", emb_pq_topk, _pq_sql())


# ---------------------------------------------------------------------------
# seasonal-naive forecast backtest
# ---------------------------------------------------------------------------
def ts_seasonal_naive_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict this hour's
    mean = the same hour 7 days earlier), reporting per-series MAE.

    The hourly panel aggregates once (partial+final); the forecast join
    is an equi-join of the panel against itself shifted by 7 days — both
    sides co-partition on (series, hour-key), no window over raw rows.
    The error sums stay in e6 integers so MAE is bit-exact cross-engine.
    """
    events = load_table(spark, sf, "events")
    hourly = events.groupBy(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros("ts") % 3_600_000_000).alias(
            "hour_us"
        ),
    ).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sum_e6"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "event_type",
        "hour_us",
        F.expr("sum_e6 div n").alias("mean_e6"),
    )
    week_us = 7 * 86_400_000_000
    actual = hourly.select(
        "event_type", "hour_us", F.col("mean_e6").alias("actual_e6")
    )
    predicted = hourly.select(
        "event_type",
        (F.col("hour_us") + week_us).alias("hour_us"),
        F.col("mean_e6").alias("pred_e6"),
    )
    return (
        actual.join(predicted, ["event_type", "hour_us"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(F.abs(F.col("actual_e6") - F.col("pred_e6"))).alias(
                "abs_err_sum_e6"
            ),
        )
        .select(
            "event_type",
            "n_hours",
            F.expr("abs_err_sum_e6 div n_hours").alias("mae_e6"),
        )
        .orderBy("event_type")
    )


TS_SEASONAL_NAIVE_SQL = """
WITH hourly AS (
  SELECT event_type,
    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      // COUNT(*) AS mean_e6
  FROM events GROUP BY event_type, hour_us
)
SELECT a.event_type, COUNT(*) AS n_hours,
  CAST(SUM(ABS(a.mean_e6 - p.mean_e6)) AS BIGINT) // COUNT(*) AS mae_e6
FROM hourly a JOIN hourly p
  ON a.event_type = p.event_type
 AND a.hour_us = p.hour_us + 604800000000
GROUP BY a.event_type
ORDER BY a.event_type
"""


# ---------------------------------------------------------------------------
# event-transition matrix (first-order Markov counts)
# ---------------------------------------------------------------------------
def events_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user consecutive event-type transition counts with e6
    row-normalized probabilities — the first-order Markov view of user
    journeys.

    One user-key window for the lag, one (from, to) aggregate, one tiny
    broadcast of the per-from totals — the raw stream shuffles once.
    """
    events = load_table(spark, sf, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 1000000 div row_total").alias("p_e6"),
        )
        .orderBy("from_type", "to_type")
    )


EVENTS_TRANSITION_SQL = """
WITH base AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
),
pairs AS (
  SELECT
    LAG(event_type) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id) AS from_type,
    event_type AS to_type
  FROM base
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
),
totals AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
  FROM counts GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n,
  c.n * 1000000 // t.row_total AS p_e6
FROM counts c JOIN totals t USING (from_type)
ORDER BY c.from_type, c.to_type
"""

register(
    "ts_seasonal_naive_backtest",
    ts_seasonal_naive_backtest,
    TS_SEASONAL_NAIVE_SQL,
)
register(
    "events_transition_matrix", events_transition_matrix, EVENTS_TRANSITION_SQL
)


# ---------------------------------------------------------------------------
# prefix-containment dedup
# ---------------------------------------------------------------------------
def docs_prefix_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Pairs where one document is an exact prefix of a longer one —
    the truncation-dup class that exact-hash dedup misses.

    Blocked equi-join on the first 32 characters (every doc has ≥ 48
    chars in this corpus; at 100 TB the block key bounds the candidate
    set exactly like the n-gram block), then a startswith verify.
    Equal-length ties (exact dups) keep the lower id as the prefix side.
    """
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", F.length("text").alias("n"),
        F.substring("text", 1, 32).alias("blk"),
    )
    a = docs.select(
        F.col("doc_id").alias("prefix_id"), F.col("text").alias("a_text"),
        F.col("n").alias("a_n"), "blk",
    )
    b = docs.select(
        F.col("doc_id").alias("full_id"), F.col("text").alias("b_text"),
        F.col("n").alias("b_n"), "blk",
    )
    return (
        a.join(b, "blk")
        .filter(
            (
                (F.col("a_n") < F.col("b_n"))
                | ((F.col("a_n") == F.col("b_n"))
                   & (F.col("prefix_id") < F.col("full_id")))
            )
            & F.col("b_text").startswith(F.col("a_text"))
        )
        .select(
            "prefix_id",
            "full_id",
            # long: F.length is int32, the oracle casts AS BIGINT
            F.col("a_n").cast("long").alias("prefix_chars"),
        )
        .orderBy("prefix_id", "full_id")
    )


DOCS_PREFIX_SQL = """
WITH d AS (
  SELECT doc_id, text, len(text) AS n, left(text, 32) AS blk FROM documents
)
SELECT a.doc_id AS prefix_id, b.doc_id AS full_id,
  CAST(a.n AS BIGINT) AS prefix_chars
FROM d a JOIN d b ON a.blk = b.blk
WHERE ((a.n < b.n) OR (a.n = b.n AND a.doc_id < b.doc_id))
  AND starts_with(b.text, a.text)
ORDER BY prefix_id, full_id
"""


# ---------------------------------------------------------------------------
# STL-lite decomposition: variance explained by trend + daily seasonality
# ---------------------------------------------------------------------------
def ts_stl_lite(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series decomposition quality: how much hourly variance the
    centered 24 h rolling trend plus the hour-of-day seasonal profile
    explain.

    Panel → trend (24-row centered window over e6 integers) → seasonal
    (per-(series, hour-of-day) integer mean of the detrended series) →
    residual.  Every intermediate is an e6 integer (integer division
    throughout) and the sums of squares run in decimal(38,0), so the
    variance ratio is bit-exact cross-engine.  Shuffles: hourly panel
    aggregate, one series-key window, the seasonal aggregate, final
    per-series reduce — all partial-aggregated.
    """
    events = load_table(spark, sf, "events")
    hourly = events.groupBy(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros("ts") % 3_600_000_000).alias(
            "hour_us"
        ),
    ).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sum_e6"),
        F.count(F.lit(1)).alias("cnt"),
    ).select(
        "event_type",
        "hour_us",
        F.expr("sum_e6 div cnt").alias("mean_e6"),
        F.expr("hour_us div 3600000000 % 24").alias("hod"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_us")
        .rowsBetween(-12, 11)
    )
    trended = hourly.select(
        "event_type",
        "hour_us",
        "hod",
        "mean_e6",
        F.expr(
            "sum(mean_e6) over (partition by event_type order by hour_us "
            "rows between 12 preceding and 11 following) div "
            "count(mean_e6) over (partition by event_type order by hour_us "
            "rows between 12 preceding and 11 following)"
        ).alias("trend_e6"),
    ).withColumn("detr_e6", F.col("mean_e6") - F.col("trend_e6"))
    seasonal = trended.groupBy("event_type", "hod").agg(
        F.sum("detr_e6").alias("s_sum"), F.count(F.lit(1)).alias("s_cnt")
    ).select(
        "event_type", "hod", F.expr("s_sum div s_cnt").alias("seasonal_e6")
    )
    joined = trended.join(seasonal, ["event_type", "hod"]).withColumn(
        "resid_e6", F.col("detr_e6") - F.col("seasonal_e6")
    )
    sq = lambda c: (  # noqa: E731
        F.col(c).cast("decimal(19,0)") * F.col(c).cast("decimal(19,0)")
    )
    stats = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(sq("detr_e6")).alias("detr_ss"),
        F.sum(sq("resid_e6")).alias("resid_ss"),
    )
    return stats.select(
        "event_type",
        "n_hours",
        F.expr(
            "cast(case when detr_ss = 0 then 1000000 else "
            "(detr_ss - resid_ss) * 1000000 div detr_ss end as bigint)"
        ).alias("seasonal_share_e6"),
    ).orderBy("event_type")


TS_STL_LITE_SQL = """
WITH hourly AS (
  SELECT event_type,
    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      // COUNT(*) AS mean_e6,
    (epoch_us(ts) - epoch_us(ts) % 3600000000) // 3600000000 % 24 AS hod
  FROM events GROUP BY event_type, hour_us, hod
),
trended AS (
  SELECT event_type, hour_us, hod, mean_e6,
    mean_e6
      - CAST(SUM(mean_e6) OVER w AS BIGINT)
        // CAST(COUNT(mean_e6) OVER w AS BIGINT) AS detr_e6
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
               ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
),
seasonal AS (
  SELECT event_type, hod,
    CAST(SUM(detr_e6) AS BIGINT) // COUNT(*) AS seasonal_e6
  FROM trended GROUP BY event_type, hod
),
resid AS (
  SELECT t.event_type, t.detr_e6,
    t.detr_e6 - s.seasonal_e6 AS resid_e6
  FROM trended t JOIN seasonal s USING (event_type, hod)
),
stats AS (
  SELECT event_type, COUNT(*) AS n_hours,
    SUM(CAST(detr_e6 AS DECIMAL(19,0)) * CAST(detr_e6 AS DECIMAL(19,0)))
      AS detr_ss,
    SUM(CAST(resid_e6 AS DECIMAL(19,0)) * CAST(resid_e6 AS DECIMAL(19,0)))
      AS resid_ss
  FROM resid GROUP BY event_type
)
SELECT event_type, n_hours,
  CAST(CASE WHEN detr_ss = 0 THEN 1000000
       ELSE CAST(detr_ss - resid_ss AS HUGEINT) * 1000000
            // CAST(detr_ss AS HUGEINT) END AS BIGINT)
    AS seasonal_share_e6
FROM stats ORDER BY event_type
"""

register("docs_prefix_containment", docs_prefix_containment, DOCS_PREFIX_SQL)
register("ts_stl_lite", ts_stl_lite, TS_STL_LITE_SQL)


# ---------------------------------------------------------------------------
# context-window chunk accounting
# ---------------------------------------------------------------------------
def docs_pack_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window packing report at T=512 tokens: per source, how
    many training chunks the corpus yields and how much padding the
    final partial chunks waste.

    Chunk math is a map-side projection (ceil-div on the token count);
    the report is one partial+final aggregate per source.  The padding
    model is one doc per sequence (no cross-doc packing) — the
    conservative upper bound curricula usually budget against.
    """
    t = 512
    docs = load_table(spark, sf, "documents").select(
        "source",
        F.size(F.split("text", " ")).alias("n_toks"),
    )
    per_doc = docs.select(
        "source",
        "n_toks",
        F.expr(f"(n_toks + {t} - 1) div {t}").alias("chunks"),
    ).withColumn("padding", F.col("chunks") * t - F.col("n_toks"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_toks").alias("tokens"),
            F.sum("chunks").alias("chunks"),
            F.sum("padding").alias("padding_tokens"),
        )
        .select(
            "source",
            "docs",
            "tokens",
            "chunks",
            "padding_tokens",
            F.expr("padding_tokens * 1000000 div (chunks * 512)").alias(
                "waste_e6"
            ),
        )
        .orderBy("source")
    )


DOCS_PACK_SQL = """
WITH per_doc AS (
  SELECT source,
    len(string_split(text, ' ')) AS n_toks,
    (len(string_split(text, ' ')) + 511) // 512 AS chunks
  FROM documents
)
SELECT source,
  COUNT(*) AS docs,
  CAST(SUM(n_toks) AS BIGINT) AS tokens,
  CAST(SUM(chunks) AS BIGINT) AS chunks,
  CAST(SUM(chunks * 512 - n_toks) AS BIGINT) AS padding_tokens,
  CAST(SUM(chunks * 512 - n_toks) AS BIGINT) * 1000000
    // (CAST(SUM(chunks) AS BIGINT) * 512) AS waste_e6
FROM per_doc
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# PMI co-occurrence pairs
# ---------------------------------------------------------------------------
def text_pmi_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Document-level token-pair association (PMI, e6-scaled) over the
    min-document-frequency vocabulary.

    The df >= 5 vocabulary filter bounds the pair space before the
    doc-keyed self-join (the same blocking discipline as the n-gram
    dedup); counts are exact integers, and the PMI log runs on the same
    double ratios in both engines.  Shuffles: token df aggregate, one
    doc-key join, the pair aggregate.
    """
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 5)
    )
    kept = toks.join(F.broadcast(vocab), "tok")
    n_docs = docs.count()
    # NOTE (round 10): an alias-form self-join (identical subplans on
    # both sides, aiming for ReuseExchange) was tried and REVERTED — the
    # planner broadcasts one kept side, so there is no exchange to
    # reuse, both lineages re-expand either way, and timings were a
    # wash (count 0.92 vs 1.05 s at sf0.1).
    pairs = (
        kept.select("doc_id", F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
        .join(
            kept.select(
                "doc_id", F.col("tok").alias("tok_b"), F.col("df").alias("df_b")
            ),
            "doc_id",
        )
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.count(F.lit(1)).alias("n_ab"),
            F.first("df_a").alias("df_a"),
            F.first("df_b").alias("df_b"),
        )
        .filter(F.col("n_ab") >= 5)
    )
    pmi = F.log(
        (F.col("n_ab").cast("double") * F.lit(float(n_docs)))
        / (F.col("df_a").cast("double") * F.col("df_b").cast("double"))
    )
    return (
        pairs.select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.floor(pmi * 1_000_000).cast("long").alias("pmi_e6"),
        )
        .orderBy("tok_a", "tok_b")
    )


TEXT_PMI_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok HAVING COUNT(*) >= 5
),
kept AS (
  SELECT t.doc_id, t.tok, v.df FROM toks t JOIN vocab v USING (tok)
),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b,
    COUNT(*) AS n_ab, MIN(a.df) AS df_a, MIN(b.df) AS df_b
  FROM kept a JOIN kept b
    ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok
  HAVING COUNT(*) >= 5
)
SELECT tok_a, tok_b, n_ab,
  CAST(FLOOR(ln(CAST(n_ab AS DOUBLE) * (SELECT COUNT(*) FROM documents)
       / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE))) * 1000000) AS BIGINT)
    AS pmi_e6
FROM pairs
ORDER BY tok_a, tok_b
"""

register("docs_pack_chunks", docs_pack_chunks, DOCS_PACK_SQL)
register("text_pmi_pairs", text_pmi_pairs, TEXT_PMI_SQL)


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------
def orders_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Recency/Frequency/Monetary quartile scores per customer.

    One customer-key aggregate builds the three metrics (monetary as an
    exact cents integer); quartiles come from ``distributed_ntile`` —
    the two-phase global rank (range repartition + broadcast offsets)
    that produces bit-identical NTILE semantics WITHOUT the single-task
    window a bare ``ntile() OVER (ORDER BY …)`` plans, so the scoring
    scales past one executor.  Ties are deterministic (metric, then
    custkey).  Output is the segment count matrix — 64 rows max, the
    classic CRM view.
    """
    from kukur_spark.io import persist_once
    from kukur_spark.operators.scale import (
        distributed_ntile,
        range_boundaries,
    )

    orders = load_table(spark, sf, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.unix_micros(F.to_timestamp("o_orderdate"))).alias(
            "last_order_us"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("monetary_cents"),
    )
    # each ntile pass executes its input twice (partition counts + rank);
    # persist between passes so the lineage doesn't re-run multiplicatively.
    # All three bucket boundaries are probed in ONE job on per_cust: the
    # ntile passes never change the metric columns, so per-pass probes on
    # the stacked intermediates would aggregate identical multisets while
    # eagerly re-executing the previous pass's window+join pipeline.
    # (An unstacked variant — three independent ntiles joined on custkey —
    # was measured WORSE: warm 4.0 s vs 2.0 s, cold no better; the extra
    # custkey joins cost more than the stacking saves.)
    per_cust = persist_once(per_cust)
    bounds = range_boundaries(
        per_cust, ["last_order_us", "frequency", "monetary_cents"]
    )
    scored = persist_once(
        distributed_ntile(
            per_cust, 4, ["last_order_us", "o_custkey"], "r_score",
            boundaries=bounds["last_order_us"],
        )
    )
    scored = persist_once(
        distributed_ntile(
            scored, 4, ["frequency", "o_custkey"], "f_score",
            boundaries=bounds["frequency"],
        )
    )
    scored = distributed_ntile(
        scored, 4, ["monetary_cents", "o_custkey"], "m_score",
        boundaries=bounds["monetary_cents"],
    )
    return (
        # long casts: DuckDB NTILE returns BIGINT, Spark's int32 would
        # fail the driver's typed value-hash
        scored.groupBy(
            F.col("r_score").cast("long").alias("r_score"),
            F.col("f_score").cast("long").alias("f_score"),
            F.col("m_score").cast("long").alias("m_score"),
        )
        .agg(F.count(F.lit(1)).alias("customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


ORDERS_RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
    MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS last_order_us,
    COUNT(*) AS frequency,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS monetary_cents
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey,
    NTILE(4) OVER (ORDER BY last_order_us ASC, o_custkey ASC) AS r_score,
    NTILE(4) OVER (ORDER BY frequency ASC, o_custkey ASC) AS f_score,
    NTILE(4) OVER (ORDER BY monetary_cents ASC, o_custkey ASC) AS m_score
  FROM per_cust
)
SELECT r_score, f_score, m_score, COUNT(*) AS customers
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


# ---------------------------------------------------------------------------
# local peak detection
# ---------------------------------------------------------------------------
def ts_peak_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Local maxima with a prominence floor: points strictly above both
    neighbours and at least 0.5 above the higher neighbour.

    One lag/lead window per series; the peak predicate is a map-side
    expression over exact e6 integers, so the threshold comparison can
    never drift between engines.
    """
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    base = events.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.floor(F.col("value").cast("decimal(30,10)") * 1_000_000)
        .cast("long")
        .alias("v_e6"),
    )
    flagged = (
        base.withColumn("prev_e6", F.lag("v_e6").over(w))
        .withColumn("next_e6", F.lead("v_e6").over(w))
        .filter(
            F.col("prev_e6").isNotNull()
            & F.col("next_e6").isNotNull()
            & (F.col("v_e6") > F.col("prev_e6"))
            & (F.col("v_e6") > F.col("next_e6"))
            & (
                F.col("v_e6") - F.greatest("prev_e6", "next_e6")
                >= 500_000
            )
        )
    )
    return flagged.select(
        "event_type",
        "ts_us",
        "event_id",
        "v_e6",
        (F.col("v_e6") - F.greatest("prev_e6", "next_e6")).alias(
            "prominence_e6"
        ),
    ).orderBy("event_type", "ts_us", "event_id")


TS_PEAK_SQL = """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
    CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT) AS v_e6
  FROM events
),
flagged AS (
  SELECT event_type, ts_us, event_id, v_e6,
    LAG(v_e6) OVER w AS prev_e6,
    LEAD(v_e6) OVER w AS next_e6
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)
)
SELECT event_type, ts_us, event_id, v_e6,
  v_e6 - GREATEST(prev_e6, next_e6) AS prominence_e6
FROM flagged
WHERE prev_e6 IS NOT NULL AND next_e6 IS NOT NULL
  AND v_e6 > prev_e6 AND v_e6 > next_e6
  AND v_e6 - GREATEST(prev_e6, next_e6) >= 500000
ORDER BY event_type, ts_us, event_id
"""

register("orders_rfm_segments", orders_rfm_segments, ORDERS_RFM_SQL)
register("ts_peak_detect", ts_peak_detect, TS_PEAK_SQL)


# ---------------------------------------------------------------------------
# grouping sets
# ---------------------------------------------------------------------------
def events_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS aggregate with grouping_id: per (type, day),
    per type, per day, and grand total in ONE pass.

    Spark plans a single Expand + aggregate — one scan feeding all four
    granularities; the alternative (four scans + union) reads the table
    four times.  Completes the multi-granularity family next to rollup
    and cube.
    """
    events = load_table(spark, sf, "events")
    base = events.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        "value",
    )
    grouped = base.groupingSets(
        [["event_type", "day"], ["event_type"], ["day"], []],
        "event_type",
        "day",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(
            F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sum_e6"),
        F.grouping_id().cast("long").alias("gid"),
    )
    return grouped.select(
        "event_type",
        F.unix_micros("day").alias("day_us"),
        "n",
        "sum_e6",
        "gid",
    ).orderBy("gid", "event_type", "day_us")


EVENTS_GROUPING_SETS_SQL = """
SELECT event_type,
  epoch_us(date_trunc('day', ts)) AS day_us,
  COUNT(*) AS n,
  CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
    AS sum_e6,
  CAST(GROUPING(event_type, date_trunc('day', ts)) AS BIGINT) AS gid
FROM events
GROUP BY GROUPING SETS (
  (event_type, date_trunc('day', ts)), (event_type),
  (date_trunc('day', ts)), ())
ORDER BY gid, event_type, day_us
"""


# ---------------------------------------------------------------------------
# cumulative revenue share
# ---------------------------------------------------------------------------
def orders_cumulative_share(spark: SparkSession, sf: str) -> DataFrame:
    """Running share of total revenue by order-value rank (the Pareto /
    'what fraction of revenue do the top-k orders carry' curve),
    reported at 1 % rank percentiles.

    Revenue is exact cents; ranking runs through the two-phase
    distributed global rank (range repartition + broadcast offsets) —
    no single-task window ever sees the order stream.  Only the 100-row
    percentile bucket table goes through a global running-sum window.
    """
    from kukur_spark.operators.scale import distributed_row_number

    orders = load_table(spark, sf, "orders")
    cents = orders.select(
        (-F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "neg_cents"
        ),
        "o_orderkey",
    )
    ranked = distributed_row_number(
        cents, ["neg_cents", "o_orderkey"], "rnk", total_column="n_total"
    )
    bucketed = (
        ranked.withColumn("pct", F.expr("(rnk - 1) * 100 div n_total"))
        .groupBy("pct")
        .agg(F.sum(-F.col("neg_cents")).alias("bucket_cents"))
    )
    w_cum = Window.orderBy("pct").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total_w = Window.orderBy("pct").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return bucketed.select(
        "pct",
        F.sum("bucket_cents").over(w_cum).alias("cum_cents"),
        F.expr(
            "cast(sum(bucket_cents) over (order by pct rows between "
            "unbounded preceding and current row) * 1000000 div "
            "sum(bucket_cents) over (order by pct rows between unbounded "
            "preceding and unbounded following) as bigint)"
        ).alias("share_e6"),
    ).orderBy("pct")


ORDERS_CUM_SHARE_SQL = """
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders
),
ranked AS (
  SELECT cents,
    ROW_NUMBER() OVER (ORDER BY cents DESC, o_orderkey ASC) AS rnk
  FROM cents
),
bucketed AS (
  SELECT (rnk - 1) * 100 // (SELECT COUNT(*) FROM cents) AS pct,
    CAST(SUM(cents) AS BIGINT) AS bucket_cents
  FROM ranked GROUP BY pct
)
SELECT pct,
  CAST(SUM(bucket_cents) OVER cum AS BIGINT) AS cum_cents,
  CAST(CAST(SUM(bucket_cents) OVER cum AS HUGEINT) * 1000000
       // CAST(SUM(bucket_cents) OVER tot AS HUGEINT) AS BIGINT)
    AS share_e6
FROM bucketed
WINDOW cum AS (ORDER BY pct ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW),
       tot AS (ORDER BY pct ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING)
ORDER BY pct
"""

register(
    "events_grouping_sets", events_grouping_sets, EVENTS_GROUPING_SETS_SQL
)
register(
    "orders_cumulative_share", orders_cumulative_share, ORDERS_CUM_SHARE_SQL
)

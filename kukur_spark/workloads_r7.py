"""Round-2 seventh batch: sequential recursions as distributed array folds.

Operators whose textbook definition is a per-key *sequential* recursion —
exponential smoothing, finite-state machines — expressed without UDFs,
driver loops, or iterative jobs: each key's ordered history is folded
with ``F.aggregate`` (DuckDB twin: ``list_reduce``), so the recursion
runs inside whole-stage codegen, one key per task, embarrassingly
parallel across keys.

State per group is the group's own history (bounded by the day/user
granularity), the fold itself is O(n) with O(1) carry — the same state
bound ``applyInPandasWithState`` would give a streaming twin.

Exactness: values ride the decimal(30,10) → e6-integer bridge and the
smoothing step is an arithmetic shift (``(acc + x) >> 1``) — floor
semantics agree between Spark ``shiftright`` and DuckDB ``>>``, so the
whole recursion is integer-exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.registry import register


# ---------------------------------------------------------------------------
# Exponential smoothing (α = 1/2) as an integer fold
# ---------------------------------------------------------------------------
def ts_exp_smooth(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(series, day) exponentially smoothed close: ℓ₀=v₀, ℓₜ=(vₜ+ℓₜ₋₁)>>1.

    α=1/2 smoothing over the day's values in (ts, value) order.  The
    fold's carry is one long; a day's history is the only materialized
    state, and days × series fold independently — the plan is a single
    hash aggregate (collect_list) per group, no window, no UDF, no
    iteration barrier.
    """
    events = load_table(spark, sf, "events").filter(
        # null ts/value rows carry no fold contribution — excluded here
        # AND in the streaming twin (its dropna) so the pair agrees on
        # both n and the smoothed value
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    base = events.select(
        "event_type",
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value").cast("decimal(30,10)") * 1_000_000)
        .cast("long")
        .alias("v_e6"),
    )
    return fold_exp_smooth(base).orderBy("event_type", "day_us")


def fold_exp_smooth(base: DataFrame) -> DataFrame:
    """Core fold on (event_type, day_us, ts_us, v_e6) rows."""
    grouped = base.groupBy("event_type", "day_us").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_sort(
            F.collect_list(F.struct("ts_us", "v_e6"))
        ).alias("pts"),
    )
    vals = F.transform(F.col("pts"), lambda p: p.getField("v_e6"))
    smooth = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.shiftright(acc + x, 1),
    )
    return grouped.select(
        "event_type", "day_us", "n", smooth.alias("smooth_e6")
    )


# NOTE: the natural DuckDB twin is list_reduce(list(... ORDER BY ...)),
# but DuckDB 1.0.0's list_reduce returns wrong results for some rows when
# evaluated over multi-row batches of aggregate-built lists (verified:
# the same row filtered to a 1-row batch folds correctly, and a Python
# replay of the stored list agrees with the 1-row result).  The oracles
# therefore step the recursion with a recursive CTE — one iteration per
# sequence position, exact in both engines.
TS_EXP_SMOOTH_SQL = """
WITH RECURSIVE base AS (
  SELECT event_type,
    epoch_us(date_trunc('day', ts)) AS day_us,
    epoch_us(ts) AS ts_us,
    CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT) AS v_e6
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
seqs AS (
  SELECT event_type, day_us,
    CAST(COUNT(*) AS BIGINT) AS n,
    list(v_e6 ORDER BY ts_us, v_e6) AS seq
  FROM base GROUP BY event_type, day_us
),
walk AS (
  SELECT event_type, day_us, n, seq, 1 AS i, seq[1] AS st FROM seqs
  UNION ALL
  SELECT event_type, day_us, n, seq, i + 1, (st + seq[i + 1]) >> 1
  FROM walk WHERE i < len(seq)
)
SELECT event_type, day_us, n, st AS smooth_e6
FROM walk WHERE i = len(seq)
ORDER BY event_type, day_us
"""

register("ts_exp_smooth", ts_exp_smooth, TS_EXP_SMOOTH_SQL)


# ---------------------------------------------------------------------------
# Per-user finite-state machine over the event stream
# ---------------------------------------------------------------------------
# Lifecycle DFA: 0 new → (signup) → 1 active → (purchase) → 2 customer;
# error knocks an active/customer user to 3 at-risk; a purchase recovers
# an at-risk user to 2. Everything else is a self-loop.
def _fsm_case_sql(acc: str, x: str) -> str:
    """The DFA transition as SQL over explicit state/input expressions —
    no placeholder surgery, so renames cannot silently break it."""
    return f"""CASE
  WHEN {x} = 'signup'   AND {acc} = '0'              THEN '1'
  WHEN {x} = 'purchase' AND {acc} IN ('1', '3')      THEN '2'
  WHEN {x} = 'error'    AND {acc} IN ('1', '2')      THEN '3'
  ELSE {acc} END"""


def events_state_machine(spark: SparkSession, sf: str) -> DataFrame:
    """Final lifecycle-DFA state per user after replaying their events.

    The classic "needs imperative code" operator — a state machine over
    an ordered per-key stream — as a distributed fold: events are
    collected per user in (ts, event_id) order and reduced through the
    transition CASE.  No UDF, no ``collect``, no recursion depth limit;
    per-user history is the only state, users fold in parallel.  The
    streaming twin (``applyInPandasWithState``) would keep just the
    1-char carry between micro-batches.
    """
    events = load_table(spark, sf, "events").filter(
        # null-timestamp events have no place in an ordered replay;
        # excluded here and in the streaming twin (which drops them in
        # its per-batch sort) so both paths agree
        F.col("ts").isNotNull()
    )
    prepared = events.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    return fold_state_machine(prepared).orderBy("user_id")


def fold_state_machine(events: DataFrame) -> DataFrame:
    """Core DFA fold on (user_id, ts_us, event_id, event_type) rows."""
    grouped = (
        events.select(
            "user_id",
            F.struct(
                F.col("ts_us"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("et"),
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_sort(F.collect_list("e")).alias("seq"),
        )
    )
    ets = F.transform(F.col("seq"), lambda e: e.getField("et"))
    final_state = F.aggregate(
        ets,
        F.lit("0"),
        lambda acc, x: F.when((x == "signup") & (acc == "0"), F.lit("1"))
        .when((x == "purchase") & acc.isin("1", "3"), F.lit("2"))
        .when((x == "error") & acc.isin("1", "2"), F.lit("3"))
        .otherwise(acc),
    )
    return grouped.select(
        "user_id",
        "n_events",
        final_state.cast("long").alias("final_state"),
    )


_FSM_STEP = _fsm_case_sql("st", "seq[i + 1]")

EVENTS_FSM_SQL = f"""
WITH RECURSIVE seqs AS (
  SELECT user_id,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    list(event_type ORDER BY epoch_us(ts), event_id) AS seq
  FROM events WHERE ts IS NOT NULL GROUP BY user_id
),
walk AS (
  SELECT user_id, n_events, seq, 0 AS i, '0' AS st FROM seqs
  UNION ALL
  SELECT user_id, n_events, seq, i + 1, {_FSM_STEP}
  FROM walk WHERE i < len(seq)
)
SELECT user_id, n_events, CAST(st AS BIGINT) AS final_state
FROM walk WHERE i = len(seq)
ORDER BY user_id
"""

register("events_state_machine", events_state_machine, EVENTS_FSM_SQL)


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event streams
# ---------------------------------------------------------------------------
def events_markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix of the event-type stream.

    User-flow analysis: for every ordered pair of consecutive events of
    the same user, count ``prev_type → event_type`` and emit row-
    normalized transition probabilities in exact ppm (integer div of
    integer counts — no float path at all).

    Scale: one ``lag`` window keyed on user (single exchange; per-user
    state is one row), then a 25-cell aggregate — the transition matrix
    is event-type² no matter the corpus size, and the row-sum join is a
    broadcast of that same tiny table.
    """
    events = load_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
        )
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("prev_type").agg(F.sum("n").alias("row_n"))
    return (
        counts.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "event_type",
            "n",
            # decimal(38,0) keeps n * 1e6 exact past BIGINT at 100 TB counts
            F.expr(
                "div(CAST(n AS DECIMAL(38,0)) * 1000000,"
                " CAST(row_n AS DECIMAL(38,0)))"
            ).alias("p_ppm"),
        )
        .orderBy("prev_type", "event_type")
    )


EVENTS_MARKOV_SQL = """
WITH pairs AS (
  SELECT
    LAG(event_type) OVER (PARTITION BY user_id
                          ORDER BY epoch_us(ts), event_id) AS prev_type,
    event_type
  FROM events WHERE ts IS NOT NULL
),
counts AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
totals AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_n
  FROM counts GROUP BY prev_type
)
SELECT c.prev_type, c.event_type, c.n,
  CAST((CAST(c.n AS HUGEINT) * 1000000) // t.row_n AS BIGINT) AS p_ppm
FROM counts c JOIN totals t USING (prev_type)
ORDER BY c.prev_type, c.event_type
"""

register(
    "events_markov_transitions", events_markov_transitions, EVENTS_MARKOV_SQL
)


# ---------------------------------------------------------------------------
# SAX motif mining: recurring 4-symbol words per series
# ---------------------------------------------------------------------------
def ts_sax_motifs(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 recurring SAX 4-grams per series — classic motif discovery.

    Builds on ``ts_paa_sax`` (64 z-normalized segments symbolized with
    Gaussian breakpoints): sliding 4-symbol words via three ``lead``s
    over the segment order, then a count aggregate and a per-series
    top-3.  A recurring word = a recurring intraday shape.

    Scale: the symbol table is 64 rows per series regardless of corpus
    size (the PAA already collapsed the points), so the word window,
    count and top-k all run on series-count × 64 rows.
    """
    from kukur_spark.workloads_ts import ts_paa_sax

    sax = ts_paa_sax(spark, sf).select("event_type", "seg", "sax")
    w = Window.partitionBy("event_type").orderBy("seg")
    words = sax.withColumn(
        "word",
        F.concat(
            "sax",
            F.lead("sax", 1).over(w),
            F.lead("sax", 2).over(w),
            F.lead("sax", 3).over(w),
        ),
    ).filter(F.col("word").isNotNull())
    counts = words.groupBy("event_type", "word").agg(
        F.count(F.lit(1)).alias("n")
    )
    r = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("word").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(r).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("event_type", "word", "n", "rank")
        .orderBy("event_type", "rank")
    )


def _sax_motifs_sql() -> str:
    from kukur_spark.workloads_ts import TS_PAA_SAX_SQL

    return f"""
WITH sax AS (
  SELECT event_type, seg, sax FROM ({TS_PAA_SAX_SQL}) t
),
words AS (
  SELECT event_type,
    sax || LEAD(sax, 1) OVER w || LEAD(sax, 2) OVER w
        || LEAD(sax, 3) OVER w AS word
  FROM sax WINDOW w AS (PARTITION BY event_type ORDER BY seg)
),
counts AS (
  SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS n
  FROM words WHERE word IS NOT NULL GROUP BY event_type, word
)
SELECT event_type, word, n, rank FROM (
  SELECT event_type, word, n,
    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      ORDER BY n DESC, word ASC) AS BIGINT) AS rank
  FROM counts
) WHERE rank <= 3 ORDER BY event_type, rank
"""


register("ts_sax_motifs", ts_sax_motifs, _sax_motifs_sql())


# ---------------------------------------------------------------------------
# Embedding outlier detection: mean k-NN distance
# ---------------------------------------------------------------------------
_KNN_K = 5
_OUTLIER_CAP = 1000  # exact-parity subset (see tests/test_r7_operators.py)
# multi-table LSH: 8 tables of 3 planes each over the 500-vector test
# corpus; production grows planes with log2(N / target_bucket_size) to
# hold bucket sizes — and with them candidate volume per vector —
# constant.  The Spark query AND the DuckDB oracle both derive from this
# constant, so results stay exactly checkable at any setting; 3 is the
# value the static oracle fixtures and the driver's result hashes pin.
# plans/r11/scale.json carries a 10x probe at planes=6.
_OUTLIER_PLANES = 3
_OUTLIER_TABLES = 8


def _outlier_scoring_tail(pairs: DataFrame) -> DataFrame:
    """Shared 5-NN outlier tail: sum the 5 smallest e6-floored cosine
    distances per query (order-free integer monoid → deterministic), then
    rank the top-10 scores with the limit-bounded global window."""
    from kukur_spark.operators.scale import bounded_rank

    wk = Window.partitionBy("query_id").orderBy(
        F.col("dist_e6").asc(), F.col("vec_id").asc()
    )
    knn = (
        pairs.withColumn("nn", F.row_number().over(wk))
        .filter(F.col("nn") <= _KNN_K)
        .groupBy("query_id")
        .agg(F.sum("dist_e6").alias("score_e6"))
    )
    return (
        bounded_rank(
            knn,
            [F.col("score_e6").desc(), F.col("query_id").asc()],
            10,
            "rank",
        )
        .select(F.col("query_id").alias("vec_id"), "score_e6", "rank")
        .orderBy("rank")
    )


def emb_outlier_knn(
    spark: SparkSession,
    sf: str,
    num_planes: int = _OUTLIER_PLANES,
    num_tables: int = _OUTLIER_TABLES,
) -> DataFrame:
    """Top-10 embedding outliers by summed 5-NN cosine distance, with the
    neighbor pool drawn from multi-table hyperplane-LSH candidates.

    The k-NN outlier score of Ramaswamy et al.: vectors whose nearest
    neighbors are all far away are isolated — mislabeled or novel
    samples in an embedding-curation pass.  Candidate pairs come from an
    equi-join on deterministic multi-table LSH buckets
    (``operators/similarity.multi_table_signatures``, md5-derived plane
    literals; a pair qualifies by sharing a bucket in ANY of the 8
    tables) — cost scales with bucket size, never corpus², and the
    DuckDB oracle rebuilds the identical buckets so the approximate
    result is still exactly checkable.  Per-pair cosines are e6-floored,
    so the per-vector score is an order-free integer and the ranking is
    deterministic.  The exact all-pairs form survives as the parity
    harness (``_emb_outlier_knn_exact``).

    ``num_planes`` defaults to the value the static oracle mirrors; at
    larger corpora pass ``num_planes ≈ log2(N / target_bucket_size)`` so
    bucket sizes — and with them candidate volume per vector — stay
    constant (the 10× scale probe runs planes=6; see PERFORMANCE.md).
    """
    from kukur_spark.operators.similarity import (
        as_double_sql,
        dot_sql,
        multi_table_signatures,
        norm_sql,
    )

    raw = load_table(spark, sf, "embeddings").selectExpr(
        "vec_id", f"{as_double_sql('embedding')} AS v"
    )
    sigs = raw.select(
        "vec_id",
        F.explode(
            multi_table_signatures("v", num_planes, num_tables, 64)
        ).alias("bucket"),
    )
    q = sigs.select(
        F.col("bucket").alias("qbucket"),
        F.col("vec_id").alias("query_id"),
    )
    # a pair sharing buckets in several tables appears once per table —
    # dedupe the skinny (query_id, vec_id) ids FIRST, then join the
    # vectors back and compute each cosine exactly once: distinct over
    # cosine-bearing rows would fold every duplicate copy (5× slower
    # measured at sf0.1).  The bucket self-join emits every candidate in
    # BOTH orders and the cosine is symmetric (IEEE multiply commutes, the
    # fold order is positional), so keep only query_id < vec_id — half the
    # distinct shuffle and half the O(d) folds — and mirror each scored
    # row into the (vec_id, query_id) direction afterwards.  The mirror is
    # an explode of two structs referencing the one dist_e6 column: the
    # fold is expensive and referenced twice, so CollapseProject keeps it
    # in the lower projection and it is evaluated once per unordered pair
    # (verified in the committed plan: a single `aggregate(zip_with…)`
    # projection below the Generate).
    ids = (
        sigs.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("query_id") < F.col("vec_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    vectors = raw.withColumn("nv", F.expr(norm_sql("v")))
    cos = F.expr(f"{dot_sql('v', 'qv')} / (nv * qn)")
    half = (
        ids.join(F.broadcast(vectors), "vec_id")
        .join(
            F.broadcast(
                vectors.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("v").alias("qv"),
                    F.col("nv").alias("qn"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "vec_id",
            (F.lit(1_000_000) - F.floor(cos * 1_000_000).cast("long")).alias(
                "dist_e6"
            ),
        )
    )
    pairs = half.select(
        F.explode(
            F.array(
                F.struct("query_id", "vec_id", "dist_e6"),
                F.struct(
                    F.col("vec_id").alias("query_id"),
                    F.col("query_id").alias("vec_id"),
                    F.col("dist_e6"),
                ),
            )
        ).alias("p")
    ).select("p.query_id", "p.vec_id", "p.dist_e6")
    return _outlier_scoring_tail(pairs)


def _emb_outlier_knn_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact all-pairs twin on a capped subset — the parity harness the
    registered ANN form is measured against (same scoring tail)."""
    from kukur_spark.operators.similarity import as_double_sql, dot_sql, norm_sql

    emb = (
        load_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") < _OUTLIER_CAP)
        .selectExpr("vec_id", f"{as_double_sql('embedding')} AS v")
        .withColumn("nv", F.expr(norm_sql("v")))
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("qn"),
    )
    cos = F.expr(f"{dot_sql('v', 'qv')} / (nv * qn)")
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (F.lit(1_000_000) - F.floor(cos * 1_000_000).cast("long")).alias(
                "dist_e6"
            ),
        )
    )
    return _outlier_scoring_tail(pairs)


def _outlier_buckets_sql(
    num_planes: int = _OUTLIER_PLANES, num_tables: int = _OUTLIER_TABLES
) -> str:
    """DuckDB list of the namespaced multi-table LSH bucket ids —
    identical md5-derived plane literals as
    ``similarity.multi_table_signatures``."""
    from kukur_spark.operators.similarity import plane_components

    def plane_lit(p: int) -> str:
        return (
            "[" + ", ".join(repr(c) for c in plane_components(p, 64)) + "]"
        )

    tables = []
    for t in range(num_tables):
        bits = " + ".join(
            f"(CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) "
            f"* ({plane_lit(t * num_planes + p)})[i])) > 0 "
            f"THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
            for p in range(num_planes)
        )
        tables.append(f"({bits} + {t * (1 << num_planes)}::BIGINT)")
    return "[" + ", ".join(tables) + "]"


EMB_OUTLIER_SQL = f"""
WITH sigs AS (
  SELECT vec_id, embedding,
    unnest({_outlier_buckets_sql()}) AS bucket
  FROM embeddings
),
pairs AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id,
    1000000 - CAST(FLOOR(
      list_sum(list_transform(range(1, len(c.embedding) + 1),
        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
          i -> CAST(c.embedding[i] AS DOUBLE)
               * CAST(c.embedding[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1),
          i -> CAST(q.embedding[i] AS DOUBLE)
               * CAST(q.embedding[i] AS DOUBLE)))))
      * 1000000) AS BIGINT) AS dist_e6
  FROM sigs c JOIN sigs q ON c.bucket = q.bucket
  WHERE c.vec_id <> q.vec_id
),
knn AS (
  SELECT query_id, CAST(SUM(dist_e6) AS BIGINT) AS score_e6 FROM (
    SELECT query_id, dist_e6,
      ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY dist_e6 ASC, vec_id ASC) AS nn
    FROM pairs
  ) WHERE nn <= {_KNN_K} GROUP BY query_id
)
SELECT vec_id, score_e6, rank FROM (
  SELECT query_id AS vec_id, score_e6,
    CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, query_id ASC)
         AS BIGINT) AS rank
  FROM knn
) WHERE rank <= 10 ORDER BY rank
"""

register("emb_outlier_knn", emb_outlier_knn, EMB_OUTLIER_SQL)

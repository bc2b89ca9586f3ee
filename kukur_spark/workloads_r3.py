"""Round-2 second batch: cardinality sketches, CDC merge, document
chunking, edit-distance near-dup, SCD2 history.

Beyond-reference training-pipeline operators (the reference gateway has
no aggregate/join executor — SURVEY §2.3/§2.4); every query carries an
exact DuckDB oracle.  Hot paths are JVM column expressions; the only
shuffles are keyed partial aggregations or the single CDC merge
exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.operators.asof import asof_join
from kukur_spark.operators.cdc import merge_upsert
from kukur_spark.operators.dedup import shingles_sql
from kukur_spark.operators.similarity import as_double_sql
from kukur_spark.operators.sketch import hll_sketch, hll_sketch_sql
from kukur_spark.registry import register


# ---------------------------------------------------------------------------
# HLL distinct-token sketch per source
# ---------------------------------------------------------------------------
def docs_hll_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-vocabulary estimate per source via a portable HLL(p=8).

    At 100 TB an exact COUNT(DISTINCT token) shuffles the whole
    vocabulary; the sketch path shuffles 256 registers per source and
    merges with max (safe under partial agg / retries / rollups).  The
    exact count rides along here only to expose the sketch error —
    ``operators/sketch.py`` documents how it drops out at scale.
    """
    docs = load_table(spark, sf, "documents")
    tokens = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return hll_sketch(tokens, ["source"], "token").orderBy("source")


DOCS_HLL_SQL = hll_sketch_sql(
    "(SELECT source, unnest(string_split(text, ' ')) AS token"
    " FROM documents)",
    ["source"],
    "token",
)


# ---------------------------------------------------------------------------
# CDC merge: snapshot + change stream -> next snapshot
# ---------------------------------------------------------------------------
_CUTOFF = "2024-01-16 00:00:00"


def events_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Latest-writer-wins upsert with tombstones.

    Base = per-(user, event_type) latest state before the cutoff; delta
    = raw events after it, where ``value < 1.0`` acts as a delete.  One
    hash shuffle on the merge key regardless of delta/base size ratio
    (`operators/cdc.py`).
    """
    events = load_table(spark, sf, "events")
    cols = ["user_id", "event_type", "ts", "event_id", "value"]
    pre = events.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    base = (
        pre.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*cols)
    )
    delta = events.filter(
        F.col("ts") >= F.lit(_CUTOFF).cast("timestamp")
    ).select(*cols, (F.col("value") < 1.0).alias("is_delete"))
    return merge_upsert(
        base,
        delta,
        keys=["user_id", "event_type"],
        order_by=["ts", "event_id"],
        delete_col="is_delete",
    ).orderBy("user_id", "event_type")


EVENTS_MERGE_SQL = f"""
WITH base AS (
  SELECT user_id, event_type, ts, event_id, value,
         FALSE AS is_delete, 0 AS pri
  FROM events WHERE ts < TIMESTAMP '{_CUTOFF}'
  QUALIFY row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
),
delta AS (
  SELECT user_id, event_type, ts, event_id, value,
         value < 1.0 AS is_delete, 1 AS pri
  FROM events WHERE ts >= TIMESTAMP '{_CUTOFF}'
),
merged AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
SELECT user_id, event_type, ts, event_id, value
FROM merged
QUALIFY row_number() OVER (
  PARTITION BY user_id, event_type
  ORDER BY ts DESC, event_id DESC, pri DESC) = 1
  AND NOT is_delete
"""


# ---------------------------------------------------------------------------
# overlapping context-window chunks (map-side explode, zero shuffle)
# ---------------------------------------------------------------------------
CHUNK_SIZE = 500
CHUNK_STRIDE = 400
# ceil((len - size) / stride) spelled integer-only: (len - 101) DIV 400
_N_EXTRA = (
    f"CASE WHEN length(text) > {CHUNK_SIZE}"
    f" THEN (length(text) - {CHUNK_SIZE - CHUNK_STRIDE + 1}) DIV {CHUNK_STRIDE}"
    f" ELSE 0 END"
)


def docs_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Materialize overlapping character chunks (size 500, stride 400).

    Pure map-side: sequence + explode + substring, no exchange in the
    plan (asserted in tests/test_plans.py) — chunking 100 TB is
    embarrassingly parallel and fan-out is bounded by doc length /
    stride.  Chunk text is fingerprinted (md5) rather than carried, the
    usual shape when chunks feed a downstream dedup/index stage.
    """
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        "text",
        F.expr(_N_EXTRA).cast("long").alias("n_extra"),
    ).select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_extra"))
        ).alias("chunk_idx"),
        "text",
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.expr(
            f"CAST(length(substring(text, CAST(chunk_idx * {CHUNK_STRIDE} + 1"
            f" AS INT), {CHUNK_SIZE})) AS BIGINT)"
        ).alias("chunk_len"),
        F.expr(
            f"md5(substring(text, CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INT),"
            f" {CHUNK_SIZE}))"
        ).alias("chunk_md5"),
    )


DOCS_CHUNKS_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
    CASE WHEN length(text) > {CHUNK_SIZE}
      THEN (length(text) - {CHUNK_SIZE - CHUNK_STRIDE + 1}) // {CHUNK_STRIDE}
      ELSE 0 END AS n_extra
  FROM documents
),
ex AS (
  SELECT doc_id, text,
         unnest(generate_series(0, n_extra)) AS chunk_idx
  FROM base
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
  CAST(length(substr(text, CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INTEGER),
       {CHUNK_SIZE})) AS BIGINT) AS chunk_len,
  md5(substr(text, CAST(chunk_idx * {CHUNK_STRIDE} + 1 AS INTEGER),
      {CHUNK_SIZE})) AS chunk_md5
FROM ex
"""


# ---------------------------------------------------------------------------
# edit-distance near-dup (blocked levenshtein)
# ---------------------------------------------------------------------------
def text_lev_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate pairs by relative edit distance (≤ 10 % edits).

    Candidate generation blocks on md5 of the first 40 chars, so the
    quadratic verify runs only inside blocks (prefix-stable edits —
    the complement of `docs_prefix_containment`'s truncation dups).
    The block self-join routes through the shared LSH candidate
    primitive (`dedup._band_candidates`), inheriting its over-full
    bucket cap: a corpus with one giant prefix-identical family cannot
    put n²/2 candidates into a single task.  Contract note: with a
    single band there is no other-band rescue, so above the cap this
    returns a bounded-recall SUBSET of the oracle's exact pair list
    (~n·cap of n²/2 — which is the point: the exact list itself is the
    blow-up); below the cap — including every oracle-gate SF — results
    are exactly the oracle's.  The join is skinny —
    (block, doc_id, len) only — and texts are joined back per side for
    the surviving candidates, mirroring the MinHash-LSH shape.
    Levenshtein itself is JVM-side (`F.levenshtein`), no Python.
    """
    from kukur_spark.operators.dedup import _band_candidates

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    blocked = docs.select(
        F.col("doc_id").alias("id"),
        F.lit(0).alias("band"),
        F.xxhash64(F.substring(F.col("text"), 1, 40)).alias("bucket"),
        F.length("text").alias("len"),
    )
    # length post-filter on the skinny candidates: lev(a,b) ≥
    # |len_a − len_b|, so any pair passing the ≤10 % threshold must
    # satisfy |len_a − len_b|·10 ≤ min(len) — pruning pairs BEFORE the
    # O(len²) Levenshtein, with provably identical results
    cand = (
        _band_candidates(blocked, carry=("len",))
        .filter(
            F.abs(F.col("len_a") - F.col("len_b")) * 10
            <= F.least(F.col("len_a"), F.col("len_b"))
        )
        .select(
            F.col("id_a").alias("doc_id_a"),
            F.col("id_b").alias("doc_id_b"),
        )
    )
    ta = docs.select(
        F.col("doc_id").alias("doc_id_a"), F.col("text").alias("text_a")
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_id_b"), F.col("text").alias("text_b")
    )
    return (
        cand.join(ta, "doc_id_a")
        .join(tb, "doc_id_b")
        .withColumn(
            "lev", F.levenshtein(F.col("text_a"), F.col("text_b")).cast("long")
        )
        .filter(
            F.col("lev") * 10
            <= F.least(F.length("text_a"), F.length("text_b"))
        )
        .select("doc_id_a", "doc_id_b", "lev")
    )


TEXT_LEV_SQL = """
WITH b AS (
  SELECT doc_id, text, md5(substr(text, 1, 40)) AS block FROM documents
)
SELECT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
       CAST(levenshtein(a.text, c.text) AS BIGINT) AS lev
FROM b a JOIN b c ON a.block = c.block AND a.doc_id < c.doc_id
WHERE levenshtein(a.text, c.text) * 10 <= least(length(a.text), length(c.text))
"""


# ---------------------------------------------------------------------------
# SCD2 history: per-customer validity intervals of cumulative state
# ---------------------------------------------------------------------------
def orders_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-changing-dimension type-2 rewrite of the order history.

    Each order opens a new version row: valid_from = order date,
    valid_to = next order's date (NULL = current), carrying the
    customer's cumulative order count and spend at that point.  One
    shuffle on the customer key; windows reuse the same partitioning
    (lead + row_number + running decimal sum in a single exchange).
    """
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("n_orders_to_date"),
        F.floor(
            F.sum(F.col("o_totalprice").cast("decimal(30,10)")).over(w)
            * 1_000_000
        )
        .cast("long")
        .alias("cum_spend_e6"),
    )


ORDERS_SCD2_SQL = """
SELECT o_custkey, o_orderkey,
  o_orderdate AS valid_from,
  lead(o_orderdate) OVER w AS valid_to,
  CAST(row_number() OVER w AS BIGINT) AS n_orders_to_date,
  CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(30,10))) OVER
    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) * 1000000)
    AS BIGINT) AS cum_spend_e6
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


register("docs_hll_tokens", docs_hll_tokens, DOCS_HLL_SQL)
register("events_merge_upsert", events_merge_upsert, EVENTS_MERGE_SQL)
register("docs_chunks", docs_chunks, DOCS_CHUNKS_SQL)
register("text_lev_neardup", text_lev_neardup, TEXT_LEV_SQL)
register("orders_scd2", orders_scd2, ORDERS_SCD2_SQL)


# ---------------------------------------------------------------------------
# TextRank: one damped PageRank power-iteration over token co-occurrence
# ---------------------------------------------------------------------------
def textrank_step(spark: SparkSession, sf: str) -> DataFrame:
    """Keyword extraction: one PageRank iteration on the co-occurrence
    graph (TextRank), integer-exact.

    Graph = df>=5 vocabulary tokens, edges = co-document pairs with
    n_ab>=3 (the same vocabulary blocking as `text_pmi_pairs` bounds
    the pair space).  From uniform rank, one damped step:
    r1(t) = 0.15 + 0.85 * sum_{u~t} w(u,t)/wdeg(u), computed in e9
    integers (per-neighbor DIV, then one DIV 100) so both engines get
    bit-identical ranks.  The iteration body is two keyed aggregates +
    one broadcast-joined degree lookup — looping it is O(rounds)
    shuffles with no driver-side data movement, the standard Spark
    power-iteration shape.
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
    kept = toks.join(F.broadcast(vocab.select("tok")), "tok")
    edges = (
        kept.select("doc_id", F.col("tok").alias("tok_a"))
        .join(kept.select("doc_id", F.col("tok").alias("tok_b")), "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 3)
    )
    # One-pass symmetrization + degree (round 10): the unionByName form
    # read the expensive pair-fanout aggregate TWICE (one per direction),
    # and the wdeg aggregate + join re-read `directed` twice more.  An
    # explode emits both directions from a single evaluation, and the
    # weighted degree is a full-partition window sum sharing the one
    # exchange on src — long sums reassociate exactly, so every e9 rank
    # is bit-identical (oracle-verified).  Window groups are bounded by
    # a token's co-occurrence degree (≤ filtered vocabulary size).
    directed = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("tok_a").alias("src"),
                    F.col("tok_b").alias("dst"),
                    F.col("w"),
                ),
                F.struct(
                    F.col("tok_b").alias("src"),
                    F.col("tok_a").alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    contrib = (
        directed.withColumn(
            "wdeg", F.sum("w").over(Window.partitionBy("src"))
        )
        .select(
            "dst",
            F.expr("CAST(w * 1000000000 AS BIGINT) DIV wdeg").alias("c_e9"),
        )
        .groupBy("dst")
        .agg(F.sum("c_e9").alias("sum_c_e9"))
    )
    return (
        contrib.select(
            F.col("dst").alias("tok"),
            (
                F.lit(150_000_000)
                + F.expr("CAST(85 * sum_c_e9 AS BIGINT) DIV 100")
            ).alias("rank_e9"),
        )
        .orderBy(F.desc("rank_e9"), "tok")
        .limit(200)
    )


TEXTRANK_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
vocab AS (
  SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) >= 5
),
kept AS (SELECT t.doc_id, t.tok FROM toks t JOIN vocab v USING (tok)),
edges AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS w
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok HAVING COUNT(*) >= 3
),
directed AS (
  SELECT tok_a AS src, tok_b AS dst, w FROM edges
  UNION ALL
  SELECT tok_b AS src, tok_a AS dst, w FROM edges
),
wdeg AS (SELECT src, SUM(w) AS wdeg FROM directed GROUP BY src),
contrib AS (
  SELECT dst, SUM(CAST(d.w * 1000000000 AS BIGINT) // g.wdeg) AS sum_c_e9
  FROM directed d JOIN wdeg g USING (src)
  GROUP BY dst
)
SELECT dst AS tok,
  CAST(150000000 + CAST(85 * sum_c_e9 AS BIGINT) // 100 AS BIGINT) AS rank_e9
FROM contrib
ORDER BY rank_e9 DESC, tok
LIMIT 200
"""


# ---------------------------------------------------------------------------
# bounded-memory quantile sketch: fixed 256-bin histogram per series
# ---------------------------------------------------------------------------
def ts_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Histogram-based p50/p90/p99 per event type.

    The exact-percentile path (`ts_percentiles`) sorts every value
    inside each series; at 100 TB that is a full per-key sort.  This
    sketch needs one pass for (min,max), one partial-aggregated pass
    into 256 fixed bins (256 counters per series on the wire, constant
    memory), and a 256-row window per series — the classic
    bounded-state quantile trade.  Bin edges and estimates are IEEE
    doubles computed identically in both engines; counts are exact.
    """
    events = load_table(spark, sf, "events")
    stats = events.groupBy("event_type").agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = (
        events.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "n",
            "vmin",
            "vmax",
            F.least(
                F.lit(255),
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin"))
                    * 256.0
                ).cast("int"),
            ).alias("bin"),
        )
        .groupBy("event_type", "n", "vmin", "vmax", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("bin")
    cum = binned.withColumn("cum", F.sum("cnt").over(w))
    upper = F.col("vmin") + (
        (F.col("bin") + 1).cast("double")
        * (F.col("vmax") - F.col("vmin"))
        / 256.0
    )

    def q_est(q_num: int, q_den: int):
        # smallest bin whose cumulative count reaches ceil(q * n)
        target = F.expr(f"CAST(-((-{q_num} * n) DIV {q_den}) AS BIGINT)")
        return F.min(
            F.when(F.col("cum") >= target, upper)
        )

    return (
        cum.groupBy("event_type", "n")
        .agg(
            q_est(1, 2).alias("p50_est"),
            q_est(9, 10).alias("p90_est"),
            q_est(99, 100).alias("p99_est"),
        )
        .select("event_type", "n", "p50_est", "p90_est", "p99_est")
        .orderBy("event_type")
    )


TS_QUANTILE_SKETCH_SQL = """
WITH stats AS (
  SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax, COUNT(*) AS n
  FROM events GROUP BY event_type
),
binned AS (
  SELECT e.event_type, s.n, s.vmin, s.vmax,
    LEAST(255, CAST(FLOOR((e.value - s.vmin) / (s.vmax - s.vmin) * 256.0)
      AS INTEGER)) AS bin,
    COUNT(*) AS cnt
  FROM events e JOIN stats s USING (event_type)
  GROUP BY e.event_type, s.n, s.vmin, s.vmax, bin
),
cum AS (
  SELECT *, SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
  FROM binned
)
SELECT event_type, n,
  MIN(CASE WHEN cum >= -((-1 * n) // 2)
      THEN vmin + CAST(bin + 1 AS DOUBLE) * (vmax - vmin) / 256.0 END)
    AS p50_est,
  MIN(CASE WHEN cum >= -((-9 * n) // 10)
      THEN vmin + CAST(bin + 1 AS DOUBLE) * (vmax - vmin) / 256.0 END)
    AS p90_est,
  MIN(CASE WHEN cum >= -((-99 * n) // 100)
      THEN vmin + CAST(bin + 1 AS DOUBLE) * (vmax - vmin) / 256.0 END)
    AS p99_est
FROM cum
GROUP BY event_type, n
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# deterministic hash sampling
# ---------------------------------------------------------------------------
SAMPLE_RATE_NUM = 858993459  # floor(0.2 * 2^32): 20 % Bernoulli


def docs_sample_bernoulli(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 20 % Bernoulli sample report per source.

    Keep a doc iff the first 8 hex chars of md5('bern1:'||doc_id) fall
    under floor(0.2*2^32) — a pure map-side predicate: reproducible
    across runs/engines, no RNG state, trivially pushed into any scan,
    and composable (different salts give independent samples).  The
    aggregate is one partial-agg shuffle of 3 counters per source.
    """
    docs = load_table(spark, sf, "documents")
    keep = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("bern1:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        < SAMPLE_RATE_NUM
    )
    return (
        docs.select("source", keep.alias("keep"), "n_chars")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_sampled"),
            F.sum(
                F.when(F.col("keep"), F.col("n_chars")).otherwise(0)
            ).alias("sampled_chars"),
        )
        .orderBy("source")
    )


DOCS_SAMPLE_SQL = f"""
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN CAST('0x' || substr(md5('bern1:' || CAST(doc_id AS VARCHAR)), 1, 8)
    AS BIGINT) < {SAMPLE_RATE_NUM} THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
  CAST(SUM(CASE WHEN CAST('0x' || substr(md5('bern1:' || CAST(doc_id AS VARCHAR)), 1, 8)
    AS BIGINT) < {SAMPLE_RATE_NUM} THEN n_chars ELSE 0 END) AS BIGINT)
    AS sampled_chars
FROM documents
GROUP BY source
ORDER BY source
"""


def events_reservoir_per_user(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-size (k=5) uniform sample per user, deterministically.

    Reservoir semantics without sequential state: rank every event by a
    salted hash and keep the k smallest per user — equivalent to a
    uniform k-subset, but expressible as one keyed window (and at scale
    as a partial top-k aggregate: min-k is mergeable, so map-side
    combines bound the shuffle at k rows per user per partition).
    """
    events = load_table(spark, sf, "events")
    hk = F.md5(F.concat(F.lit("res1:"), F.col("event_id").cast("string")))
    w = Window.partitionBy("user_id").orderBy("hk")
    return (
        events.select("user_id", "event_id", "ts", hk.alias("hk"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("user_id", "event_id", "ts", F.col("rk").cast("long").alias("rk"))
    )


EVENTS_RESERVOIR_SQL = """
SELECT user_id, event_id, ts,
  CAST(row_number() OVER (
    PARTITION BY user_id
    ORDER BY md5('res1:' || CAST(event_id AS VARCHAR))) AS BIGINT) AS rk
FROM events
QUALIFY rk <= 5
"""


register("textrank_step", textrank_step, TEXTRANK_SQL)
register("ts_quantile_sketch", ts_quantile_sketch, TS_QUANTILE_SKETCH_SQL)
register("docs_sample_bernoulli", docs_sample_bernoulli, DOCS_SAMPLE_SQL)
register(
    "events_reservoir_per_user",
    events_reservoir_per_user,
    EVENTS_RESERVOIR_SQL,
)


# ---------------------------------------------------------------------------
# end-to-end training-set manifest (composition flagship)
# ---------------------------------------------------------------------------
CONTAM_MAX_E6 = 500_000  # drop docs sharing ≥50 % of 8-gram shingles


def docs_training_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """The full cleaning pipeline composed into ONE lazy DAG: quality
    filters → exact-dedup canonical → benchmark decontamination → split
    assignment, returning the final training manifest rows.

    Decontamination is 8-gram based (token-level overlap saturates on
    common words; 8-token shingles only collide on real shared
    passages, so benchmark members score 1.0 and clean docs ~0).
    Component operators exist standalone (`docs_pipeline_yield`,
    `dedup_exact`, `docs_decontaminate`, `docs_split_assign`); this
    query is the composition proof — Catalyst fuses the filters and the
    split projection into the scan side, the dedup rank is one keyed
    window, the shingle vocabulary broadcasts, and survivors explode
    shingles map-side into a single per-doc aggregate.  Nothing
    materializes between stages: at 100 TB the pipeline is scan →
    window(fp) → broadcast-join → agg, three shuffles total.
    """
    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        "text",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.md5(F.col("text")).alias("fp"),
    )
    keep_rank = Window.partitionBy("fp").orderBy("doc_id")
    surv = (
        base.withColumn("rn", F.row_number().over(keep_rank))
        .filter(
            (F.col("rn") == 1)
            & (F.col("n_chars") >= 120)
            & (F.col("lang") == "en")
            & (F.col("n_toks") >= 25)
        )
    )
    bench_vocab = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .selectExpr(f"explode({shingles_sql('text', 8)}) AS sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    doc_shingles = surv.selectExpr(
        "doc_id", "source", f"explode({shingles_sql('text', 8)}) AS sh"
    )
    scored = (
        doc_shingles.join(F.broadcast(bench_vocab), "sh", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .withColumn(
            "contamination_e6", F.expr("hits * 1000000 div n_shingles")
        )
        .filter(F.col("contamination_e6") < CONTAM_MAX_E6)
    )
    nibble = F.substring(
        F.md5(F.concat_ws(":", F.col("source"), F.col("doc_id"))), 1, 1
    )
    return scored.select(
        "doc_id",
        "source",
        F.when(nibble < "c", "train")
        .when(nibble < "e", "val")
        .otherwise("test")
        .alias("split"),
        "n_shingles",
        "contamination_e6",
    ).orderBy("doc_id")


DOCS_MANIFEST_SQL = f"""
WITH base AS (
  SELECT doc_id, source, lang, n_chars, text,
    len(string_split(text, ' ')) AS n_toks,
    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
),
surv AS (
  SELECT doc_id, source, text FROM base
  WHERE rn = 1 AND n_chars >= 120 AND lang = 'en' AND n_toks >= 25
),
vocab AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
    generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ')
  ))) AS sh
  FROM documents WHERE doc_id % 25 = 0
),
doc_shingles AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
    generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ')
  ))) AS sh
  FROM surv
),
scored AS (
  SELECT t.doc_id, t.source,
    SUM(CASE WHEN v.sh IS NOT NULL THEN 1 ELSE 0 END) AS hits,
    COUNT(*) AS n_shingles
  FROM doc_shingles t LEFT JOIN vocab v ON t.sh = v.sh
  GROUP BY t.doc_id, t.source
)
SELECT doc_id, source,
  CASE WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 1) < 'c'
       THEN 'train'
       WHEN substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 1) < 'e'
       THEN 'val'
       ELSE 'test' END AS split,
  CAST(n_shingles AS BIGINT) AS n_shingles,
  CAST(hits * 1000000 // n_shingles AS BIGINT) AS contamination_e6
FROM scored
WHERE hits * 1000000 // n_shingles < {CONTAM_MAX_E6}
ORDER BY doc_id
"""

register("docs_training_manifest", docs_training_manifest, DOCS_MANIFEST_SQL)


# ---------------------------------------------------------------------------
# iterative k-means: two full Lloyd iterations, integer/IEEE exact
# ---------------------------------------------------------------------------
def _kmeans_pass(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd iteration: broadcast-argmin assignment + (cluster, dim)
    partial-aggregate re-estimation.  Returns (cluster, dim, sum_e6, cnt).

    Docstring parity note: `emb_kmeans_step` (workloads_ts2.py) proves a
    single pass against the oracle; this helper is the loop body — the
    centroid frame stays tiny (k x dim rows), the corpus is never
    shuffled by the argmin, and iterating is O(rounds) keyed aggregates
    with no driver-side data movement.
    """
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .groupBy("vec_id")
        .agg(
            F.min_by(
                "cluster", F.struct(F.col("d2"), F.col("cluster"))
            ).alias("cluster"),
            F.first("v").alias("v"),
        )
    )
    dims = assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
    return dims.groupBy(
        "cluster", (F.col("pos") + 1).cast("long").alias("dim")
    ).agg(
        F.floor(
            F.sum(F.col("val").cast("decimal(30,10)")) * 1_000_000
        ).cast("long").alias("sum_e6"),
        F.count(F.lit(1)).alias("cnt"),
    )


def _agg_to_centroids(agg: DataFrame) -> DataFrame:
    """(cluster, dim, sum_e6, cnt) → (cluster, cv array<double>) with the
    e6-quantized mean as the next centroid — quantization makes the
    fixpoint engine-portable (both engines divide the same integers)."""
    return (
        agg.select(
            "cluster",
            "dim",
            F.expr("CAST(sum_e6 div cnt AS DOUBLE) / 1000000.0").alias("c"),
        )
        .groupBy("cluster")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("s")
        )
        .select(
            "cluster", F.transform("s", lambda x: x["c"]).alias("cv")
        )
    )


def emb_kmeans_iter2(spark: SparkSession, sf: str) -> DataFrame:
    """Two chained Lloyd iterations of k-means (k=8, seeds = vec_id<8).

    The iterative-algorithm pattern on Spark: the loop builds ONE lazy
    DAG (assign → re-estimate → assign → re-estimate); each round adds
    a (cluster, dim) partial aggregate and a broadcast of the k×dim
    centroid table — the 100 TB corpus is scanned per round but never
    shuffled, which is the scalable shape for iterative ML on immutable
    data.  Centroids are e6-quantized between rounds so both engines
    iterate on identical numbers.
    """
    emb = load_table(spark, sf, "embeddings").selectExpr(
        "vec_id", f"{as_double_sql('embedding')} AS v"
    )
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("cv")
    )
    it1 = _kmeans_pass(emb, seeds)
    cents1 = _agg_to_centroids(it1)
    it2 = _kmeans_pass(emb, cents1)
    return it2.select(
        "cluster",
        "dim",
        F.expr("sum_e6 div cnt").alias("centroid_e6"),
        F.col("cnt").alias("cluster_n"),
    ).orderBy("cluster", "dim")


EMB_KMEANS_ITER2_SQL = """
WITH emb AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
seeds AS (
  SELECT vec_id AS cluster, v AS cv FROM emb WHERE vec_id < 8
),
scored1 AS (
  SELECT e.vec_id, s.cluster, e.v,
    list_sum(list_transform(range(1, len(e.v) + 1),
      i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]))) AS d2
  FROM emb e, seeds s
),
assigned1 AS (
  SELECT vec_id, v, cluster FROM (
    SELECT vec_id, v, cluster,
      ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY d2 ASC, cluster ASC) AS rk
    FROM scored1
  ) WHERE rk = 1
),
dims1 AS (
  SELECT cluster, unnest(generate_series(1, len(v))) AS dim, v
  FROM assigned1
),
agg1 AS (
  SELECT cluster, dim,
    CAST(FLOOR(SUM(CAST(v[dim] AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS sum_e6,
    COUNT(*) AS cnt
  FROM dims1 GROUP BY cluster, dim
),
cents1 AS (
  SELECT cluster,
    list(CAST(sum_e6 // cnt AS DOUBLE) / 1000000.0 ORDER BY dim) AS cv
  FROM agg1 GROUP BY cluster
),
scored2 AS (
  SELECT e.vec_id, s.cluster, e.v,
    list_sum(list_transform(range(1, len(e.v) + 1),
      i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]))) AS d2
  FROM emb e, cents1 s
),
assigned2 AS (
  SELECT vec_id, v, cluster FROM (
    SELECT vec_id, v, cluster,
      ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY d2 ASC, cluster ASC) AS rk
    FROM scored2
  ) WHERE rk = 1
),
dims2 AS (
  SELECT cluster, unnest(generate_series(1, len(v))) AS dim, v
  FROM assigned2
)
SELECT cluster, dim,
  CAST(FLOOR(SUM(CAST(v[dim] AS DECIMAL(30,10))) * 1000000) AS BIGINT)
    // COUNT(*) AS centroid_e6,
  COUNT(*) AS cluster_n
FROM dims2
GROUP BY cluster, dim
ORDER BY cluster, dim
"""

register("emb_kmeans_iter2", emb_kmeans_iter2, EMB_KMEANS_ITER2_SQL)


# ---------------------------------------------------------------------------
# marketing attribution: last-touch within a 7-day window (as-of reuse)
# ---------------------------------------------------------------------------
def events_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the user's most
    recent view/click strictly before it and at most 7 days old.

    Reuses `operators/asof.py` (backward, strict, tolerance) — the
    one-exchange union+window as-of, not a non-equi join.  Touches are
    pre-deduped to one per (user, ts) with the highest event_id so the
    as-of tie semantics are engine-independent.  Output is the
    attribution report per touch type.
    """
    events = load_table(spark, sf, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    touches = (
        events.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("event_type", "event_id").alias("touch_type"),
            F.max("event_id").alias("touch_id"),
        )
    )
    matched = asof_join(
        purchases,
        touches,
        on=["user_id"],
        ts_column="ts",
        value_columns=["touch_type", "touch_id"],
        allow_exact_matches=False,
        direction="backward",
        tolerance_us=7 * 86400 * 1_000_000,
    )
    return (
        matched.groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.floor(
                F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000
            ).cast("long").alias("attributed_value_e6"),
        )
        .orderBy("touch_type")
    )


EVENTS_ATTRIBUTION_SQL = """
WITH touches AS (
  SELECT user_id, ts,
    max_by(event_type, event_id) AS touch_type,
    MAX(event_id) AS touch_id
  FROM events WHERE event_type IN ('view', 'click')
  GROUP BY user_id, ts
),
purch AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase'
),
attributed AS (
  SELECT p.event_id, p.value, t.touch_type
  FROM purch p JOIN touches t
    ON p.user_id = t.user_id
   AND t.ts < p.ts
   AND t.ts >= p.ts - INTERVAL 7 DAY
  QUALIFY row_number() OVER (
    PARTITION BY p.event_id ORDER BY t.ts DESC) = 1
)
SELECT touch_type,
  COUNT(*) AS n_purchases,
  CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
    AS attributed_value_e6
FROM attributed
GROUP BY touch_type
ORDER BY touch_type
"""

register("events_attribution", events_attribution, EVENTS_ATTRIBUTION_SQL)


# ---------------------------------------------------------------------------
# incremental rollup maintenance: delta-only refresh of a daily rollup
# ---------------------------------------------------------------------------
_ROLLUP_CUTOFF = "2024-01-25 00:00:00"
# per-row e6 quantization: every aggregate below is then an integer
# monoid (sum/count/min/max), so partials merge EXACTLY — the property
# incremental maintenance needs (floor-of-sum would not distribute)
_V_E6 = "CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT)"


def _daily_rollup(events: DataFrame) -> DataFrame:
    return events.groupBy(
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(_V_E6)).alias("value_e6"),
        F.min(F.expr(_V_E6)).alias("vmin_e6"),
        F.max(F.expr(_V_E6)).alias("vmax_e6"),
    )


def events_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized-rollup refresh: base rollup (events before the
    cutoff — standing in for last night's materialization) + the
    delta's own rollup, merged with `operators/incremental.py`.

    At 100 TB the base aggregate is computed once; each refresh scans
    only the delta and the merge shuffles group-cardinality rows
    (days × types), never raw events.  The oracle recomputes the rollup
    from the full table — passing proves merge(partial, partial) ==
    full, i.e. the monoid design is actually exact.
    """
    from kukur_spark.operators.incremental import merge_additive

    events = load_table(spark, sf, "events")
    cutoff = F.lit(_ROLLUP_CUTOFF).cast("timestamp")
    base = _daily_rollup(events.filter(F.col("ts") < cutoff))
    delta = _daily_rollup(events.filter(F.col("ts") >= cutoff))
    return merge_additive(
        base,
        delta,
        keys=["day_us", "event_type"],
        combine={
            "n": "count",
            "value_e6": "sum",
            "vmin_e6": "min",
            "vmax_e6": "max",
        },
    ).orderBy("day_us", "event_type")


EVENTS_INCREMENTAL_SQL = """
SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT))
    AS BIGINT) AS value_e6,
  MIN(CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT))
    AS vmin_e6,
  MAX(CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT))
    AS vmax_e6
FROM events
GROUP BY day_us, event_type
ORDER BY day_us, event_type
"""

register(
    "events_incremental_rollup",
    events_incremental_rollup,
    EVENTS_INCREMENTAL_SQL,
)

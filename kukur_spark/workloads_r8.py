"""Round-2 eighth batch: behavioral and corpus-drift diagnostics.

- ``sessions_entry_exit``  — entry/exit event analysis over gap-split
  sessions (the bounce/landing report of product analytics);
- ``docs_vocab_drift``     — vocabulary distribution drift between two
  corpus shards (the "did the crawl change under me" check of corpus
  curation), as exact ppm share deltas.

Everything is integer-exact: counts, running session indexes, and ppm
shares via integer division — no float path anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.registry import register


_SESSION_GAP_US = 30 * 60 * 1_000_000


def sessions_entry_exit(spark: SparkSession, sf: str) -> DataFrame:
    """Session entry/exit matrix: how flows start and how they end.

    Sessions split on the same 30-minute inactivity gap as
    ``sessionize``; each session contributes its first and last event
    type ((ts, event_id)-deterministic), and the output counts sessions
    per (entry, exit) pair — the landing/bounce table.

    Scale: two windows over the same (user, time) clustering — Spark
    reuses one sort/exchange for both (single ``Exchange
    hashpartitioning(user_id)``), then a 25-cell aggregate.  Per-user
    window state is O(1).
    """
    events = load_table(spark, sf, "events").filter(F.col("ts").isNotNull())
    base = events.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )
    wu = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(wu)
    sessed = base.withColumn(
        "session_idx",
        F.sum(
            F.when(gap > _SESSION_GAP_US, 1).otherwise(0)
        ).over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    ws = Window.partitionBy("user_id", "session_idx").orderBy(
        "ts_us", "event_id"
    )
    wsd = Window.partitionBy("user_id", "session_idx").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    marked = sessed.withColumn(
        "rn_a", F.row_number().over(ws)
    ).withColumn("rn_d", F.row_number().over(wsd))
    per_session = marked.groupBy("user_id", "session_idx").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("event_type"))).alias(
            "entry_type"
        ),
        F.max(F.when(F.col("rn_d") == 1, F.col("event_type"))).alias(
            "exit_type"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        per_session.groupBy("entry_type", "exit_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("entry_type", "exit_type")
    )


SESSIONS_ENTRY_EXIT_SQL = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
  FROM events WHERE ts IS NOT NULL
),
gapped AS (
  SELECT user_id, ts_us, event_id, event_type,
    CASE WHEN ts_us - LAG(ts_us)
              OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
              > {_SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM base
),
sessed AS (
  SELECT user_id, ts_us, event_id, event_type,
    SUM(new_session)
      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_idx
  FROM gapped
),
marked AS (
  SELECT user_id, session_idx, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
                       ORDER BY ts_us, event_id) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
                       ORDER BY ts_us DESC, event_id DESC) AS rn_d
  FROM sessed
),
per_session AS (
  SELECT user_id, session_idx,
    MAX(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
    MAX(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type,
    CAST(COUNT(*) AS BIGINT) AS n_events
  FROM marked GROUP BY user_id, session_idx
)
SELECT entry_type, exit_type,
  CAST(COUNT(*) AS BIGINT) AS n_sessions,
  CAST(SUM(n_events) AS BIGINT) AS n_events
FROM per_session GROUP BY entry_type, exit_type
ORDER BY entry_type, exit_type
"""

register("sessions_entry_exit", sessions_entry_exit, SESSIONS_ENTRY_EXIT_SQL)


# ---------------------------------------------------------------------------
# Vocabulary drift between corpus shards
# ---------------------------------------------------------------------------
_DRIFT_A = "src0"
_DRIFT_B = "src1"


def docs_vocab_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 tokens by share drift between two corpus shards.

    Corpus-curation check: per-token frequency share (exact ppm of each
    shard's token total) in shard A vs shard B, ranked by absolute
    drift.  A crawl/source change shows up as mass moving between
    tokens; the L1 sum of these deltas is total-variation distance.

    Scale: one token-count aggregate per shard (map-side combinable,
    vocabulary-sized output), a full-outer join on term keyed by the
    same hash, and a k-bounded top-10.  Integer-exact throughout
    (decimal div for the ppm shares).
    """
    from kukur_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents").filter(
        F.col("source").isin(_DRIFT_A, _DRIFT_B)
    )
    toks = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("source").agg(F.sum("n").alias("total"))
    shares = counts.join(F.broadcast(totals), "source").select(
        "source",
        "term",
        F.expr(
            "div(CAST(n AS DECIMAL(38,0)) * 1000000,"
            " CAST(total AS DECIMAL(38,0)))"
        ).alias("share_ppm"),
    )
    a = shares.filter(F.col("source") == _DRIFT_A).select(
        "term", F.col("share_ppm").alias("share_a")
    )
    b = shares.filter(F.col("source") == _DRIFT_B).select(
        "term", F.col("share_ppm").alias("share_b")
    )
    joined = (
        a.join(b, "term", "full_outer")
        .select(
            "term",
            F.coalesce("share_a", F.lit(0)).alias("share_a_ppm"),
            F.coalesce("share_b", F.lit(0)).alias("share_b_ppm"),
        )
        .withColumn(
            "drift_ppm",
            F.abs(F.col("share_a_ppm") - F.col("share_b_ppm")),
        )
    )
    from kukur_spark.operators.scale import bounded_rank

    return (
        bounded_rank(
            joined,
            [F.col("drift_ppm").desc(), F.col("term").asc()],
            10,
            "rank",
        )
        .select("term", "share_a_ppm", "share_b_ppm", "drift_ppm", "rank")
        .orderBy("rank")
    )


DOCS_VOCAB_DRIFT_SQL = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE source IN ('{_DRIFT_A}', '{_DRIFT_B}')
),
counts AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n
  FROM toks GROUP BY source, term
),
totals AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS total FROM counts GROUP BY source
),
shares AS (
  SELECT c.source, c.term,
    CAST((CAST(c.n AS HUGEINT) * 1000000) // t.total AS BIGINT)
      AS share_ppm
  FROM counts c JOIN totals t USING (source)
),
joined AS (
  SELECT COALESCE(a.term, b.term) AS term,
    COALESCE(a.share_ppm, 0) AS share_a_ppm,
    COALESCE(b.share_ppm, 0) AS share_b_ppm,
    ABS(COALESCE(a.share_ppm, 0) - COALESCE(b.share_ppm, 0)) AS drift_ppm
  FROM (SELECT term, share_ppm FROM shares WHERE source = '{_DRIFT_A}') a
  FULL OUTER JOIN
       (SELECT term, share_ppm FROM shares WHERE source = '{_DRIFT_B}') b
  ON a.term = b.term
)
SELECT term, share_a_ppm, share_b_ppm, drift_ppm, rank FROM (
  SELECT term, share_a_ppm, share_b_ppm, drift_ppm,
    CAST(ROW_NUMBER() OVER (ORDER BY drift_ppm DESC, term ASC)
         AS BIGINT) AS rank
  FROM joined
) WHERE rank <= 10 ORDER BY rank
"""

register("docs_vocab_drift", docs_vocab_drift, DOCS_VOCAB_DRIFT_SQL)


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs deduplicated history
# ---------------------------------------------------------------------------
def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """New-batch near-dup check against corpus history via LSH buckets.

    Docs with ``doc_id % 5 == 0`` play today's batch; the rest are the
    already-deduplicated history.  Only new×history bucket collisions
    are generated (see ``operators.dedup.minhash_incremental_md5``) —
    the incremental cost a 100 TB pipeline actually pays, with the
    history banding standing in for a persisted index.
    """
    from kukur_spark.operators.dedup import minhash_incremental_md5

    docs = load_table(spark, sf, "documents")
    return minhash_incremental_md5(docs, (F.col("doc_id") % 5) == 0)


def _dedup_incr_sql(
    shingle_size: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_ppm_threshold: int = 500_000,
) -> str:
    """DuckDB twin of :func:`dedup_incremental` — composes on the SAME
    CTE generator as ``minhash_md5_oracle_sql`` (``md5_sig_ctes_sql``)
    so the signature pipelines cannot drift."""
    from kukur_spark.operators.dedup import md5_sig_ctes_sql

    return f"""
WITH {md5_sig_ctes_sql("documents", "text", "doc_id", shingle_size, num_hashes, bands)}, cand AS (
  SELECT DISTINCT n.id AS new_id, h.id AS hist_id
  FROM banded n JOIN banded h
    ON n.band = h.band AND n.bucket = h.bucket
  WHERE n.id % 5 = 0 AND h.id % 5 <> 0
), verified AS (
  SELECT new_id, hist_id,
    len(list_intersect(hn.hs, hh.hs))::BIGINT AS inter,
    len(hn.hs)::BIGINT + len(hh.hs)::BIGINT AS tot
  FROM cand
  JOIN sigs hn ON hn.id = cand.new_id
  JOIN sigs hh ON hh.id = cand.hist_id
), scored AS (
  SELECT new_id, hist_id,
    inter * 1000000 // (tot - inter) AS jaccard_ppm
  FROM verified
  WHERE inter * 1000000 // (tot - inter) >= {jaccard_ppm_threshold}
)
SELECT new_id, hist_id, jaccard_ppm FROM (
  SELECT new_id, hist_id, jaccard_ppm,
    ROW_NUMBER() OVER (PARTITION BY new_id
      ORDER BY jaccard_ppm DESC, hist_id ASC) AS rn
  FROM scored
) WHERE rn = 1 ORDER BY new_id
"""


register("dedup_incremental", dedup_incremental, _dedup_incr_sql())


# ---------------------------------------------------------------------------
# Embedding-quality eval: per-label centroid margin
# ---------------------------------------------------------------------------
def emb_class_margin(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label separation: own-centroid vs best-other-centroid cosine.

    The embedding-space health check behind label-noise triage: each
    vector's margin is ``cos(v, centroid_own) − max_other cos(v,
    centroid_other)``; a label whose mean margin hugs zero is entangled
    with another class.  Centroid components are integer-exact
    (decimal-bridged per-dimension sums, the ``emb_centroid_per_label``
    construction) and each margin is e6-floored per vector, so the
    per-label means are order-free integers.

    Scale: centroids are a label-count-sized broadcast; the corpus is
    scanned once and never shuffled except the final label-keyed
    partial aggregate.
    """
    from kukur_spark.operators.similarity import (
        as_double_sql,
        centroid_dims_e6,
        cosine_sql,
    )

    emb = load_table(spark, sf, "embeddings")
    cent = (
        centroid_dims_e6(emb)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c_e6"))),
                lambda s: s.getField("c_e6").cast("double") / 1_000_000,
            ).alias("cv")
        )
        .select(F.col("label").alias("c_label"), "cv")
    )
    cos = F.expr(cosine_sql(as_double_sql("embedding"), "cv"))
    pairs = (
        emb.select("vec_id", "label", "embedding")
        .crossJoin(F.broadcast(cent))
        .withColumn("cos_c", cos)
    )
    per_vec = pairs.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("c_label") == F.col("label"), F.col("cos_c"))).alias(
            "own"
        ),
        F.max(F.when(F.col("c_label") != F.col("label"), F.col("cos_c"))).alias(
            "other"
        ),
    )
    margins = per_vec.select(
        "label",
        F.floor((F.col("own") - F.col("other")) * 1_000_000)
        .cast("long")
        .alias("margin_e6"),
    )
    return (
        margins.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "div(CAST(SUM(margin_e6) AS DECIMAL(38,0)),"
                " CAST(COUNT(*) AS DECIMAL(38,0)))"
            ).alias("mean_margin_e6"),
            # when(...)​.otherwise(0) so a NULL margin (single-label
            # regime: no "other" centroid) counts 0, like the oracle's
            # CASE — a bare (x > 0).cast sum would be NULL there
            F.sum(
                F.when(F.col("margin_e6") > 0, 1).otherwise(0)
            ).cast("long").alias("n_separated"),
        )
        .orderBy("label")
    )


def _emb_class_margin_sql() -> str:
    from kukur_spark.operators.similarity import CENTROID_DIMS_SQL_CTE

    return f"""
WITH {CENTROID_DIMS_SQL_CTE},
cent AS (
  SELECT label AS c_label,
    list(CAST(c_e6 AS DOUBLE) / 1000000 ORDER BY dim) AS cv
  FROM cent_dims GROUP BY label
),
pairs AS (
  SELECT e.vec_id, e.label, c.c_label,
    list_sum(list_transform(range(1, len(e.embedding) + 1),
      i -> CAST(e.embedding[i] AS DOUBLE) * c.cv[i]))
    / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        i -> CAST(e.embedding[i] AS DOUBLE)
             * CAST(e.embedding[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, len(c.cv) + 1),
        i -> c.cv[i] * c.cv[i])))) AS cos_c
  FROM embeddings e CROSS JOIN cent c
),
per_vec AS (
  SELECT vec_id, label,
    MAX(CASE WHEN c_label = label THEN cos_c END) AS own,
    MAX(CASE WHEN c_label <> label THEN cos_c END) AS other
  FROM pairs GROUP BY vec_id, label
),
margins AS (
  SELECT label,
    CAST(FLOOR((own - other) * 1000000) AS BIGINT) AS margin_e6
  FROM per_vec
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(CAST(SUM(margin_e6) AS HUGEINT)
       // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS mean_margin_e6,
  CAST(SUM(CASE WHEN margin_e6 > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_separated
FROM margins GROUP BY label ORDER BY label
"""


register("emb_class_margin", emb_class_margin, _emb_class_margin_sql())


# ---------------------------------------------------------------------------
# Weighted median (weighted-quantile family)
# ---------------------------------------------------------------------------
def lineitem_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag.

    The lower weighted median: the smallest price whose cumulative
    quantity mass reaches half the group's total — all integer (price
    bridged to e2 cents, quantities summed as longs).

    Scale: the mass is aggregated per (group, price level) FIRST — a
    fully parallel map-side-combinable groupBy — so the sequential
    cumsum window runs over distinct price levels, not raw rows.  With
    3 return flags a raw-row cumsum would sort everything in 3 tasks
    (measured 8.9 s at the 10× probe); the aggregated form keeps the
    heavy pass parallel and the per-group window tiny.
    """
    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice").cast("decimal(30,10)") * 100)
        .cast("long")
        .alias("price_e2"),
        F.floor(F.col("l_quantity").cast("decimal(30,10)"))
        .cast("long")
        .alias("qty"),
    )
    mass = li.groupBy("l_returnflag", "price_e2").agg(
        F.sum("qty").alias("level_qty"), F.count(F.lit(1)).alias("level_rows")
    )
    w = Window.partitionBy("l_returnflag").orderBy("price_e2").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # NOTE (round 10): replacing the totals branch with full-partition
    # window sums (same keyed partitioning, one pass) was tried and
    # REVERTED — the unbounded-frame window buffers every mass row in 3
    # single-key tasks and measured SLOWER on the counted action
    # (1.69 → 2.04 s at sf0.1) than re-running the cheap second
    # aggregate + broadcast join.
    cum = mass.withColumn("cum_qty", F.sum("level_qty").over(w))
    totals = mass.groupBy("l_returnflag").agg(
        F.sum("level_qty").alias("total_qty"),
        F.sum("level_rows").alias("n_rows"),
    )
    return (
        cum.join(F.broadcast(totals), "l_returnflag")
        .filter(F.col("cum_qty") * 2 >= F.col("total_qty"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price_e2").alias("wmedian_price_e2"),
            F.max("total_qty").alias("total_qty"),
            F.max("n_rows").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


LINEITEM_WMEDIAN_SQL = """
WITH base AS (
  SELECT l_returnflag,
    CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(30,10)) * 100) AS BIGINT)
      AS price_e2,
    CAST(FLOOR(CAST(l_quantity AS DECIMAL(30,10))) AS BIGINT) AS qty
  FROM lineitem
),
mass AS (
  SELECT l_returnflag, price_e2,
    CAST(SUM(qty) AS BIGINT) AS level_qty,
    CAST(COUNT(*) AS BIGINT) AS level_rows
  FROM base GROUP BY l_returnflag, price_e2
),
cum AS (
  SELECT l_returnflag, price_e2,
    CAST(SUM(level_qty) OVER (PARTITION BY l_returnflag
      ORDER BY price_e2
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_qty
  FROM mass
),
totals AS (
  SELECT l_returnflag, CAST(SUM(level_qty) AS BIGINT) AS total_qty,
    CAST(SUM(level_rows) AS BIGINT) AS n_rows
  FROM mass GROUP BY l_returnflag
)
SELECT c.l_returnflag,
  MIN(c.price_e2) AS wmedian_price_e2,
  MAX(t.total_qty) AS total_qty,
  MAX(t.n_rows) AS n_rows
FROM cum c JOIN totals t USING (l_returnflag)
WHERE c.cum_qty * 2 >= t.total_qty
GROUP BY c.l_returnflag ORDER BY c.l_returnflag
"""

register(
    "lineitem_weighted_median", lineitem_weighted_median, LINEITEM_WMEDIAN_SQL
)


# ---------------------------------------------------------------------------
# Composed flagship: RAG indexing + hybrid query in one DAG
# ---------------------------------------------------------------------------
from kukur_spark.workloads_r6 import (  # noqa: E402 — shared RRF wiring
    _RRF_DEPTH as _RAG_DEPTH,
    _RRF_K as _RAG_K,
    _RRF_QUERY_VEC as _RAG_QVEC,
)

_RAG_CH_SIZE = 40  # tokens per chunk
_RAG_CH_STRIDE = 30
_RAG_MIN_TOKENS = 20
_RAG_MAX_TOKENS = 400
_RAG_TERMS = ["window", "agg", "fast"]


def docs_rag_query(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end RAG pipeline: quality gate → exact dedup → token
    chunking → chunk-level BM25 → doc-level dense ranks → RRF fusion.

    The whole retrieval stack as ONE lazy DAG — what an indexing+query
    service actually executes:

    1. quality gate: 20–400 tokens (the C4-style length filter);
    2. exact dedup: one doc per md5(text), smallest doc_id wins;
    3. chunking: 40-token windows, stride 30 (pure explode+slice —
       zero exchange, like ``docs_chunks``);
    4. lexical leg: Okapi BM25 over CHUNKS (passage retrieval), a doc
       scored by its best passage;
    5. dense leg: cosine ranks of the kept docs' embeddings around the
       query vector;
    6. fusion: integer RRF (k=60) over the two doc rankings, top-10
       with the winning passage attached.

    Every float is e6-floored before any sum (order-free integers);
    all the stage plans are the individually-proven ones — this query
    pins their composition.
    """
    from kukur_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    gated = docs.filter(
        (F.col("n_tokens") >= _RAG_MIN_TOKENS)
        & (F.col("n_tokens") <= _RAG_MAX_TOKENS)
    )
    wdup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        gated.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    n_extra = F.when(
        F.col("n_tokens") > _RAG_CH_SIZE,
        F.expr(
            f"div(n_tokens - {_RAG_CH_SIZE - _RAG_CH_STRIDE + 1},"
            f" {_RAG_CH_STRIDE})"
        ),
    ).otherwise(F.lit(0))
    chunks = (
        kept.withColumn("n_extra", n_extra)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_extra"))
            ).alias("chunk_idx"),
            F.slice(
                tokens(F.col("text")),
                F.col("chunk_idx").cast("int") * _RAG_CH_STRIDE + 1,
                _RAG_CH_SIZE,
            ).alias("ctoks"),
        )
        .withColumn("dl", F.size("ctoks").cast("long"))
    )

    stats = chunks.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("dl").alias("total_dl"),
    )
    matched = chunks.select(
        "doc_id", "chunk_idx", "dl", F.explode("ctoks").alias("term")
    ).filter(F.col("term").isin(_RAG_TERMS))
    tf = matched.groupBy("doc_id", "chunk_idx", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_tbl = (
        matched.select("doc_id", "chunk_idx", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_chunks") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n_chunks")
    norm = F.expr("1.2 * 0.25") + F.expr("1.2 * 0.75") * F.col("dl") / avgdl
    contrib = idf * (F.col("tf") * 2.2 / (F.col("tf") + norm))
    chunk_scores = (
        tf.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("c_e6", F.floor(contrib * 1_000_000).cast("long"))
        .groupBy("doc_id", "chunk_idx")
        .agg(F.sum("c_e6").alias("chunk_bm25_e6"))
    )
    wbest = Window.partitionBy("doc_id").orderBy(
        F.col("chunk_bm25_e6").desc(), F.col("chunk_idx").asc()
    )
    best = (
        chunk_scores.withColumn("_rn", F.row_number().over(wbest))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "chunk_idx", "chunk_bm25_e6")
    )
    from kukur_spark.operators.scale import bounded_rank

    lex = bounded_rank(
        best,
        [F.col("chunk_bm25_e6").desc(), F.col("doc_id").asc()],
        _RAG_DEPTH,
        "rank_b",
    ).select("doc_id", "chunk_idx", "chunk_bm25_e6", "rank_b")

    # dense leg + fusion are the r6 helpers — one implementation of the
    # cosine ranking and the RRF wiring serves both the standalone
    # hybrid query and this flagship (same _RRF_K/_RRF_DEPTH constants)
    from kukur_spark.workloads_r6 import _dense_ranks, _fused_top10

    dense = _dense_ranks(
        spark, sf, keep=kept.select(F.col("doc_id").alias("vec_id"))
    )
    return _fused_top10(
        lex, dense, carry=("chunk_idx", "chunk_bm25_e6")
    ).withColumnRenamed("chunk_idx", "best_chunk_idx")


DOCS_RAG_SQL = f"""
WITH docs_t AS (
  SELECT doc_id, text,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
gated AS (
  SELECT * FROM docs_t
  WHERE n_tokens BETWEEN {_RAG_MIN_TOKENS} AND {_RAG_MAX_TOKENS}
),
kept AS (
  SELECT doc_id, text, n_tokens FROM (
    SELECT doc_id, text, n_tokens,
      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
chunks AS (
  SELECT doc_id, chunk_idx,
    list_slice(string_split(text, ' '),
      chunk_idx * {_RAG_CH_STRIDE} + 1,
      chunk_idx * {_RAG_CH_STRIDE} + {_RAG_CH_SIZE}) AS ctoks
  FROM (
    SELECT doc_id, text,
      unnest(generate_series(0,
        CASE WHEN n_tokens > {_RAG_CH_SIZE}
          THEN (n_tokens - {_RAG_CH_SIZE - _RAG_CH_STRIDE + 1})
               // {_RAG_CH_STRIDE}
          ELSE 0 END)) AS chunk_idx
    FROM kept
  )
),
chunks_dl AS (
  SELECT doc_id, chunk_idx, ctoks,
    CAST(len(ctoks) AS BIGINT) AS dl
  FROM chunks
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
    CAST(SUM(dl) AS BIGINT) AS total_dl
  FROM chunks_dl
),
matched AS (
  SELECT doc_id, chunk_idx, dl, unnest(ctoks) AS term FROM chunks_dl
),
matched_f AS (
  SELECT * FROM matched
  WHERE term IN ({", ".join(repr(t) for t in _RAG_TERMS)})
),
tf AS (
  SELECT doc_id, chunk_idx, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM matched_f GROUP BY doc_id, chunk_idx, dl, term
),
df_tbl AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM (
    SELECT DISTINCT doc_id, chunk_idx, term FROM matched_f
  ) GROUP BY term
),
chunk_scores AS (
  SELECT doc_id, chunk_idx,
    CAST(SUM(CAST(FLOOR(
      ln(1.0 + (s.n_chunks - d.df + 0.5) / (d.df + 0.5))
      * (tf.tf * 2.2
         / (tf.tf + 1.2 * 0.25
            + 1.2 * 0.75 * tf.dl
              / (CAST(s.total_dl AS DOUBLE) / s.n_chunks)))
      * 1000000) AS BIGINT)) AS BIGINT) AS chunk_bm25_e6
  FROM tf JOIN df_tbl d USING (term) CROSS JOIN stats s
  GROUP BY doc_id, chunk_idx
),
best AS (
  SELECT doc_id, chunk_idx, chunk_bm25_e6 FROM (
    SELECT doc_id, chunk_idx, chunk_bm25_e6,
      ROW_NUMBER() OVER (PARTITION BY doc_id
        ORDER BY chunk_bm25_e6 DESC, chunk_idx ASC) AS rn
    FROM chunk_scores
  ) WHERE rn = 1
),
lex AS (
  SELECT doc_id, chunk_idx, chunk_bm25_e6, rank_b FROM (
    SELECT doc_id, chunk_idx, chunk_bm25_e6,
      CAST(ROW_NUMBER() OVER (ORDER BY chunk_bm25_e6 DESC, doc_id ASC)
           AS BIGINT) AS rank_b
    FROM best
  ) WHERE rank_b <= {_RAG_DEPTH}
),
kept_emb AS (
  SELECT e.vec_id, e.embedding FROM embeddings e
  WHERE e.vec_id IN (SELECT doc_id FROM kept)
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_RAG_QVEC}),
scored AS (
  SELECT e.vec_id AS doc_id,
    list_sum(list_transform(range(1, len(e.embedding) + 1),
      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        i -> CAST(e.embedding[i] AS DOUBLE)
             * CAST(e.embedding[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))))
    AS cos_sim
  FROM kept_emb e CROSS JOIN q
  WHERE e.vec_id <> {_RAG_QVEC}
),
dense AS (
  SELECT doc_id, rank_c FROM (
    SELECT doc_id,
      CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id ASC)
           AS BIGINT) AS rank_c
    FROM scored
  ) WHERE rank_c <= {_RAG_DEPTH}
),
fused AS (
  SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
    lex.chunk_idx AS best_chunk_idx, lex.chunk_bm25_e6,
    rank_b, rank_c,
    COALESCE(1000000000 // ({_RAG_K} + rank_b), 0)
    + COALESCE(1000000000 // ({_RAG_K} + rank_c), 0) AS rrf_e9
  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
)
SELECT doc_id, best_chunk_idx, chunk_bm25_e6, rank_b, rank_c, rrf_e9,
       rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rrf_e9 DESC, doc_id ASC)
                 AS BIGINT) AS rank
  FROM fused
) WHERE rank <= 10 ORDER BY rank
"""

register("docs_rag_query", docs_rag_query, DOCS_RAG_SQL)


# ---------------------------------------------------------------------------
# Duplication-rate report per source
# ---------------------------------------------------------------------------
def docs_dup_rate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source exact-duplicate pressure, in exact ppm.

    For each source: how many of its docs share an md5(text) with ANY
    doc in the corpus (cross-source dupes count — the crawl-overlap
    signal), and how many would be dropped by keep-smallest-doc_id
    dedup.  Two map-side-combinable aggregates over the fingerprint;
    the fingerprint table is vocabulary-of-texts sized.
    """
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    fps = docs.groupBy("fp").agg(
        F.count(F.lit(1)).alias("fp_n"),
        F.min("doc_id").alias("fp_keeper"),
    )
    joined = docs.join(fps, "fp")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("fp_n") > 1, 1).otherwise(0)
            ).cast("long").alias("n_duplicated"),
            F.sum(
                F.when(F.col("doc_id") != F.col("fp_keeper"), 1).otherwise(0)
            ).cast("long").alias("n_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_duplicated",
            "n_dropped",
            F.expr("div(n_duplicated * 1000000, n_docs)").alias(
                "dup_ppm"
            ),
        )
        .orderBy("source")
    )


DOCS_DUP_RATE_SQL = """
WITH fps AS (
  SELECT md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS fp_n,
    MIN(doc_id) AS fp_keeper
  FROM documents GROUP BY md5(text)
),
joined AS (
  SELECT d.source, d.doc_id, f.fp_n, f.fp_keeper
  FROM documents d JOIN fps f ON md5(d.text) = f.fp
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN fp_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_duplicated,
  CAST(SUM(CASE WHEN doc_id <> fp_keeper THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped,
  CAST((SUM(CASE WHEN fp_n > 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
    AS BIGINT) AS dup_ppm
FROM joined GROUP BY source ORDER BY source
"""

register("docs_dup_rate_by_source", docs_dup_rate_by_source, DOCS_DUP_RATE_SQL)


# ---------------------------------------------------------------------------
# Error-burst detection (max events in any sliding hour)
# ---------------------------------------------------------------------------
def events_error_burst(spark: SparkSession, sf: str) -> DataFrame:
    """Worst 1-hour error burst per user: max errors inside any sliding
    60-minute window anchored at an error.

    Incident triage: a RANGE window (59m59.999999s preceding → current)
    counts errors per anchor; the per-user max is the burst depth, with
    the anchoring timestamp of the first worst burst.  Exact integers
    end to end.

    Scale: one user-keyed exchange; RANGE window state is bounded by
    events-per-hour-per-user.
    """
    errors = (
        load_table(spark, sf, "events")
        .filter(F.col("event_type") == "error")
        .select("user_id", F.unix_micros("ts").alias("ts_us"))
    )
    hour_us = 3_600_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-(hour_us - 1), 0)
    )
    burst = errors.withColumn(
        "burst_n", F.count(F.lit(1)).over(w).cast("long")
    )
    wmax = Window.partitionBy("user_id").orderBy(
        F.col("burst_n").desc(), F.col("ts_us").asc()
    )
    return (
        burst.withColumn("_rn", F.row_number().over(wmax))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "burst_n",
            F.col("ts_us").alias("burst_end_us"),
        )
        .orderBy("user_id")
    )


EVENTS_ERROR_BURST_SQL = """
WITH errors AS (
  SELECT user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'error'
),
burst AS (
  SELECT user_id, ts_us,
    CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us
      RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS BIGINT)
      AS burst_n
  FROM errors
)
SELECT user_id, burst_n, burst_end_us FROM (
  SELECT user_id, burst_n, ts_us AS burst_end_us,
    ROW_NUMBER() OVER (PARTITION BY user_id
      ORDER BY burst_n DESC, ts_us ASC) AS rn
  FROM burst
) WHERE rn = 1 ORDER BY user_id
"""

register("events_error_burst", events_error_burst, EVENTS_ERROR_BURST_SQL)


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest above-threshold streak per series
# ---------------------------------------------------------------------------
_STREAK_THR_E6 = 50_000_000  # value > 50.0, on the e6 bridge


def ts_threshold_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Longest consecutive above-threshold run per series — the classic
    gaps-and-islands rewrite.

    Island id = (row_number over all rows) − (row_number over qualifying
    rows): constant within each unbroken run, so runs reduce with one
    count aggregate.  Emits the longest streak's length and start/end
    timestamps (ties → earliest start).  Threshold compares on the e6
    integer bridge, so qualification cannot flip cross-engine.

    Scale: both window passes and the island aggregate cluster on the
    series key — one exchange; window state is O(1) per row.
    """
    events = load_table(spark, sf, "events").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.floor(F.col("value").cast("decimal(30,10)") * 1_000_000)
        .cast("long")
        .alias("v_e6"),
    )
    w_all = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    w_hit = Window.partitionBy("event_type", "hit").orderBy(
        "ts_us", "event_id"
    )
    marked = (
        events.withColumn("hit", F.col("v_e6") > _STREAK_THR_E6)
        .withColumn("rn_all", F.row_number().over(w_all))
        .withColumn("rn_hit", F.row_number().over(w_hit))
        .filter(F.col("hit"))
        .withColumn("island", F.col("rn_all") - F.col("rn_hit"))
    )
    islands = marked.groupBy("event_type", "island").agg(
        F.count(F.lit(1)).cast("long").alias("streak_len"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.col("streak_len").desc(), F.col("start_us").asc()
    )
    return (
        islands.withColumn("_rn", F.row_number().over(wbest))
        .filter(F.col("_rn") == 1)
        .select("event_type", "streak_len", "start_us", "end_us")
        .orderBy("event_type")
    )


TS_STREAKS_SQL = f"""
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
    CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT) AS v_e6
  FROM events
),
marked AS (
  SELECT event_type, ts_us, event_id,
    v_e6 > {_STREAK_THR_E6} AS hit,
    ROW_NUMBER() OVER (PARTITION BY event_type
      ORDER BY ts_us, event_id) AS rn_all,
    ROW_NUMBER() OVER (PARTITION BY event_type, v_e6 > {_STREAK_THR_E6}
      ORDER BY ts_us, event_id) AS rn_hit
  FROM base
),
islands AS (
  SELECT event_type, rn_all - rn_hit AS island,
    CAST(COUNT(*) AS BIGINT) AS streak_len,
    MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
  FROM marked WHERE hit GROUP BY event_type, rn_all - rn_hit
)
SELECT event_type, streak_len, start_us, end_us FROM (
  SELECT event_type, streak_len, start_us, end_us,
    ROW_NUMBER() OVER (PARTITION BY event_type
      ORDER BY streak_len DESC, start_us ASC) AS rn
  FROM islands
) WHERE rn = 1 ORDER BY event_type
"""

register("ts_threshold_streaks", ts_threshold_streaks, TS_STREAKS_SQL)


# ---------------------------------------------------------------------------
# Conversion lag by signup cohort
# ---------------------------------------------------------------------------
def events_conversion_lag(spark: SparkSession, sf: str) -> DataFrame:
    """Signup→purchase funnel lag per weekly signup cohort.

    Per user: first signup, then first purchase at-or-after it; per
    weekly cohort: signup count, converter count, and the exact lower
    median of the day-lag (integer rank pick — no float percentile).

    Scale: two filtered min-aggregates keyed on user (map-side
    combinable), a user-keyed join, then cohort-sized aggregates; the
    median rank window runs per cohort over converter counts.
    """
    events = load_table(spark, sf, "events")
    signups = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("s_us"))
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("p_us"))
    )
    # the >= predicate lives in the JOIN condition: a user whose only
    # purchases precede the signup must still surface (unconverted),
    # which a post-join filter would silently drop
    conv = (
        signups.alias("s")
        .join(
            purchases.alias("p"),
            on=[
                F.col("s.user_id") == F.col("p.user_id"),
                F.col("p.p_us") >= F.col("s.s_us"),
            ],
            how="left",
        )
        .groupBy(F.col("s.user_id").alias("user_id"), "s_us")
        .agg(F.min("p_us").alias("first_p_us"))
    )
    cohorted = conv.select(
        "user_id",
        F.unix_micros(
            F.date_trunc("week", F.timestamp_micros(F.col("s_us")))
        ).alias("cohort_us"),
        F.when(
            F.col("first_p_us").isNotNull(),
            F.expr("div(first_p_us - s_us, 86400000000)"),
        ).alias("lag_days"),
    )
    wmed = Window.partitionBy("cohort_us").orderBy(
        F.col("lag_days").asc(), F.col("user_id").asc()
    )
    converted = cohorted.filter(F.col("lag_days").isNotNull()).withColumn(
        "rn", F.row_number().over(wmed)
    )
    n_conv = converted.groupBy("cohort_us").agg(
        F.count(F.lit(1)).alias("n_converted")
    )
    median = (
        converted.join(F.broadcast(n_conv), "cohort_us")
        .filter(F.col("rn") == F.expr("div(n_converted + 1, 2)"))
        .select("cohort_us", F.col("lag_days").alias("median_lag_days"))
    )
    totals = cohorted.groupBy("cohort_us").agg(
        F.count(F.lit(1)).alias("n_signups")
    )
    return (
        totals.join(n_conv, "cohort_us", "left")
        .join(median, "cohort_us", "left")
        .select(
            "cohort_us",
            "n_signups",
            F.coalesce("n_converted", F.lit(0)).alias("n_converted"),
            "median_lag_days",
        )
        .orderBy("cohort_us")
    )


EVENTS_CONVERSION_SQL = """
WITH signups AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT s.user_id, s.s_us, MIN(p.p_us) AS first_p_us
  FROM signups s LEFT JOIN (
    SELECT user_id, epoch_us(ts) AS p_us
    FROM events WHERE event_type = 'purchase'
  ) p ON p.user_id = s.user_id AND p.p_us >= s.s_us
  GROUP BY s.user_id, s.s_us
),
cohorted AS (
  SELECT user_id,
    epoch_us(date_trunc('week', make_timestamp(s_us))) AS cohort_us,
    CASE WHEN first_p_us IS NOT NULL
      THEN (first_p_us - s_us) // 86400000000 END AS lag_days
  FROM conv
),
converted AS (
  SELECT cohort_us, user_id, lag_days,
    ROW_NUMBER() OVER (PARTITION BY cohort_us
      ORDER BY lag_days ASC, user_id ASC) AS rn
  FROM cohorted WHERE lag_days IS NOT NULL
),
n_conv AS (
  SELECT cohort_us, CAST(COUNT(*) AS BIGINT) AS n_converted
  FROM converted GROUP BY cohort_us
),
median AS (
  SELECT c.cohort_us, c.lag_days AS median_lag_days
  FROM converted c JOIN n_conv n USING (cohort_us)
  WHERE c.rn = (n.n_converted + 1) // 2
),
totals AS (
  SELECT cohort_us, CAST(COUNT(*) AS BIGINT) AS n_signups
  FROM cohorted GROUP BY cohort_us
)
SELECT t.cohort_us, t.n_signups,
  COALESCE(n.n_converted, 0) AS n_converted,
  m.median_lag_days
FROM totals t
LEFT JOIN n_conv n USING (cohort_us)
LEFT JOIN median m USING (cohort_us)
ORDER BY t.cohort_us
"""

register("events_conversion_lag", events_conversion_lag, EVENTS_CONVERSION_SQL)


# ---------------------------------------------------------------------------
# Repeat-purchase analysis per market segment
# ---------------------------------------------------------------------------
def orders_repeat_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Repeat-customer rate and median inter-order gap per segment.

    Per market segment: customers with ≥2 orders as exact ppm of
    ordering customers, plus the exact lower median of per-customer
    median inter-order day gaps (lag window → per-customer median rank
    pick → per-segment median rank pick — integers all the way).

    Scale: the order stream shuffles once on customer for the lag
    window; everything after runs on customer-count-sized rows.
    """
    orders = load_table(spark, sf, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("od")
    )
    cust = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("od")
    gaps = (
        orders.withColumn("prev", F.lag("od").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "o_custkey", F.datediff("od", "prev").cast("long").alias("gap_d")
        )
    )
    # Median picks via window counts (round 10): the count-aggregate +
    # broadcast-join-back pattern re-expanded each upstream subtree per
    # branch (no ReuseExchange across the differently-pruned shapes) —
    # this query planned 32 parquet scans / 60 exchanges.  A
    # full-partition count window shares the exchange its row_number
    # already pays, and the per-segment repeat count rides the picked
    # median row.  Counts are identical integers; tie order within equal
    # gap values picks the same gap VALUE either way.  Now 6 scans.
    wg = Window.partitionBy("o_custkey").orderBy(F.col("gap_d").asc())
    cust_med = (
        gaps.withColumn("rn", F.row_number().over(wg))
        .withColumn(
            "n_gaps", F.count(F.lit(1)).over(Window.partitionBy("o_custkey"))
        )
        .filter(F.col("rn") == F.expr("div(n_gaps + 1, 2)"))
        .select("o_custkey", F.col("gap_d").alias("cust_med_gap"))
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(cust, "o_custkey")
        .join(cust_med, "o_custkey", "left")
    )
    wseg = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cust_med_gap").asc(), F.col("o_custkey").asc()
    )
    seg_med = (
        per_cust.filter(F.col("n_orders") >= 2)
        .withColumn("rn", F.row_number().over(wseg))
        .withColumn(
            "n_repeat",
            F.count(F.lit(1)).over(Window.partitionBy("c_mktsegment")),
        )
        .filter(F.col("rn") == F.expr("div(n_repeat + 1, 2)"))
        .select(
            "c_mktsegment",
            "n_repeat",
            F.col("cust_med_gap").alias("median_gap_days"),
        )
    )
    totals = per_cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return (
        totals.join(seg_med, "c_mktsegment", "left")
        .select(
            "c_mktsegment",
            "n_customers",
            F.coalesce("n_repeat", F.lit(0)).alias("n_repeat"),
            F.expr(
                "div(COALESCE(n_repeat, 0) * 1000000, n_customers)"
            ).alias("repeat_ppm"),
            "median_gap_days",
        )
        .orderBy("c_mktsegment")
    )


ORDERS_REPEAT_SQL = """
WITH orders_d AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od FROM orders
),
gaps AS (
  SELECT o_custkey,
    CAST(date_diff('day', prev, od) AS BIGINT) AS gap_d
  FROM (
    SELECT o_custkey, od,
      LAG(od) OVER (PARTITION BY o_custkey ORDER BY od) AS prev
    FROM orders_d
  ) WHERE prev IS NOT NULL
),
ng AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_gaps
  FROM gaps GROUP BY o_custkey
),
cust_med AS (
  SELECT g.o_custkey, g.gap_d AS cust_med_gap FROM (
    SELECT o_custkey, gap_d,
      ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY gap_d ASC) AS rn
    FROM gaps
  ) g JOIN ng USING (o_custkey)
  WHERE g.rn = (ng.n_gaps + 1) // 2
),
per_cust AS (
  SELECT o.o_custkey, c.c_mktsegment,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    MAX(m.cust_med_gap) AS cust_med_gap
  FROM orders_d o
  JOIN customer c ON c.c_custkey = o.o_custkey
  LEFT JOIN cust_med m ON m.o_custkey = o.o_custkey
  GROUP BY o.o_custkey, c.c_mktsegment
),
repeaters AS (
  SELECT c_mktsegment, o_custkey, cust_med_gap,
    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      ORDER BY cust_med_gap ASC, o_custkey ASC) AS rn
  FROM per_cust WHERE n_orders >= 2
),
nrep AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_repeat
  FROM repeaters GROUP BY c_mktsegment
),
seg_med AS (
  SELECT r.c_mktsegment, r.cust_med_gap AS median_gap_days
  FROM repeaters r JOIN nrep n USING (c_mktsegment)
  WHERE r.rn = (n.n_repeat + 1) // 2
),
totals AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM per_cust GROUP BY c_mktsegment
)
SELECT t.c_mktsegment, t.n_customers,
  COALESCE(n.n_repeat, 0) AS n_repeat,
  (COALESCE(n.n_repeat, 0) * 1000000) // t.n_customers AS repeat_ppm,
  s.median_gap_days
FROM totals t
LEFT JOIN nrep n USING (c_mktsegment)
LEFT JOIN seg_med s USING (c_mktsegment)
ORDER BY t.c_mktsegment
"""

register("orders_repeat_rate", orders_repeat_rate, ORDERS_REPEAT_SQL)


# ---------------------------------------------------------------------------
# Daily-profile anomaly: the day that least resembles the series' shape
# ---------------------------------------------------------------------------
def ts_profile_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Most anomalous day per series by L1 distance between that day's
    hourly profile and the series' overall hourly profile.

    Seasonal-shape anomaly detection: each (series, date, hour) mean and
    each (series, hour) mean are integer-exact (decimal-bridged e6 sums,
    bigint division); a day's score is the summed |day mean − overall
    mean| over the hours it has data for, normalized per hour count in
    exact ppm-of-e6.  The winner is the max-score date (ties → earliest).

    Scale: two partial-agg passes keyed on (series, hour[, date]) and a
    24-row-per-series broadcast join; no raw points ever re-shuffle.
    """
    events = load_table(spark, sf, "events")
    base = events.select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.floor(F.col("value").cast("decimal(30,10)") * 1_000_000)
        .cast("long")
        .alias("v_e6"),
    )
    day_hour = base.groupBy("event_type", "d", "h").agg(
        F.sum("v_e6").alias("s"), F.count(F.lit(1)).alias("n")
    ).select(
        "event_type", "d", "h", F.expr("div(s, n)").alias("dh_mean_e6")
    )
    overall = base.groupBy("event_type", "h").agg(
        F.sum("v_e6").alias("s"), F.count(F.lit(1)).alias("n")
    ).select("event_type", "h", F.expr("div(s, n)").alias("oh_mean_e6"))
    scored = (
        day_hour.join(F.broadcast(overall), ["event_type", "h"])
        .withColumn(
            "dev_e6", F.abs(F.col("dh_mean_e6") - F.col("oh_mean_e6"))
        )
        .groupBy("event_type", "d")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("dev_e6").alias("sum_dev_e6"),
        )
        .select(
            "event_type",
            "d",
            "n_hours",
            F.expr("div(sum_dev_e6, n_hours)").alias("mean_dev_e6"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("mean_dev_e6").desc(), F.col("d").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            F.col("d").cast("string").alias("anomalous_date"),
            "n_hours",
            "mean_dev_e6",
        )
        .orderBy("event_type")
    )


TS_PROFILE_ANOMALY_SQL = """
WITH base AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
    EXTRACT(hour FROM ts) AS h,
    CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT) AS v_e6
  FROM events
),
day_hour AS (
  SELECT event_type, d, h,
    CAST(SUM(v_e6) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS dh_mean_e6
  FROM base GROUP BY event_type, d, h
),
overall AS (
  SELECT event_type, h,
    CAST(SUM(v_e6) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS oh_mean_e6
  FROM base GROUP BY event_type, h
),
scored AS (
  SELECT dh.event_type, dh.d,
    CAST(COUNT(*) AS BIGINT) AS n_hours,
    CAST(SUM(ABS(dh.dh_mean_e6 - o.oh_mean_e6)) AS BIGINT)
      // CAST(COUNT(*) AS BIGINT) AS mean_dev_e6
  FROM day_hour dh JOIN overall o USING (event_type, h)
  GROUP BY dh.event_type, dh.d
)
SELECT event_type, anomalous_date, n_hours, mean_dev_e6 FROM (
  SELECT event_type, CAST(d AS VARCHAR) AS anomalous_date, n_hours,
    mean_dev_e6,
    ROW_NUMBER() OVER (PARTITION BY event_type
      ORDER BY mean_dev_e6 DESC, d ASC) AS rn
  FROM scored
) WHERE rn = 1 ORDER BY event_type
"""

register("ts_profile_anomaly", ts_profile_anomaly, TS_PROFILE_ANOMALY_SQL)


# ---------------------------------------------------------------------------
# Supplier lead time (order date → ship date)
# ---------------------------------------------------------------------------
def supplier_lead_time(spark: SparkSession, sf: str) -> DataFrame:
    """Per-supplier fulfillment speed: line count, mean and exact median
    lead days (order date → ship date), and the late share (>90 days)
    in exact ppm.

    Scale: the fact join is lineitem ⋈ orders on orderkey (the big
    co-partitioned pair — AQE picks the strategy), then supplier-keyed
    partial aggregates; the median is an integer rank pick per supplier.
    """
    li = load_table(spark, sf, "lineitem").select(
        "l_suppkey", "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    lead = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "l_suppkey", F.datediff("sd", "od").cast("long").alias("lead_d")
    )
    # One pass: the aggregate table, the median-rank window, and the
    # final join are ALL supplier-keyed, so the former agg-join-back
    # shape executed the lineitem⋈orders subtree three times (pruned
    # branches, no ReuseExchange).  Count/sum ride the same suppkey
    # exchange as the rank window (unbounded frame), and the median row
    # carries every output column — zero join-backs, one fact shuffle.
    w = Window.partitionBy("l_suppkey").orderBy(F.col("lead_d").asc())
    wa = Window.partitionBy("l_suppkey")
    return (
        lead.select(
            "l_suppkey",
            "lead_d",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wa).alias("n_lines"),
            F.sum("lead_d").over(wa).alias("sum_lead"),
            F.sum(F.when(F.col("lead_d") > 90, 1).otherwise(0))
            .over(wa)
            .cast("long")
            .alias("n_late"),
        )
        .filter(F.col("rn") == F.expr("div(n_lines + 1, 2)"))
        .select(
            "l_suppkey",
            "n_lines",
            F.expr("div(sum_lead, n_lines)").alias("mean_lead_d"),
            F.col("lead_d").alias("median_lead_d"),
            F.expr("div(n_late * 1000000, n_lines)").alias("late_ppm"),
        )
        .orderBy("l_suppkey")
    )


SUPPLIER_LEAD_SQL = """
WITH lead AS (
  SELECT l.l_suppkey,
    CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lead_d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
n_tbl AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
    CAST(SUM(lead_d) AS BIGINT) AS sum_lead,
    CAST(SUM(CASE WHEN lead_d > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_late
  FROM lead GROUP BY l_suppkey
),
med AS (
  SELECT r.l_suppkey, r.lead_d AS median_lead_d FROM (
    SELECT l_suppkey, lead_d,
      ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY lead_d ASC) AS rn
    FROM lead
  ) r JOIN n_tbl n USING (l_suppkey)
  WHERE r.rn = (n.n_lines + 1) // 2
)
SELECT n.l_suppkey, n.n_lines,
  n.sum_lead // n.n_lines AS mean_lead_d,
  m.median_lead_d,
  (n.n_late * 1000000) // n.n_lines AS late_ppm
FROM n_tbl n JOIN med m USING (l_suppkey)
ORDER BY n.l_suppkey
"""

register("supplier_lead_time", supplier_lead_time, SUPPLIER_LEAD_SQL)


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation (best-lag discovery)
# ---------------------------------------------------------------------------
_LL_A = "click"
_LL_B = "view"
_LL_LAGS = list(range(-3, 4))  # hours


def ts_leadlag_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation of click vs view at hourly lags −3..+3 —
    lead–lag discovery between two series.

    Alignment grid: integer-exact hourly means (the ``ts_corr_pairs``
    bridge); for each candidate lag the b-series grid is shifted by
    lag·1h and the moments re-aggregated.  Correlations ship as ppm
    with a rank by |r| (rank 1 = the lag that best explains the pair).

    Scale: the hourly grid is tiny (hours × series); all 7 lag joins
    run on it, never on raw points.
    """
    events = load_table(spark, sf, "events")
    hourly = (
        events.filter(F.col("event_type").isin(_LL_A, _LL_B))
        .groupBy(
            "event_type",
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("h_us"),
        )
        .agg(
            F.floor(
                F.sum(F.col("value").cast("decimal(30,10)")) * 1_000_000
            ).cast("long").alias("sum_e6"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "event_type", "h_us", F.expr("sum_e6 div cnt").alias("avg_e6")
        )
    )
    # Single-lineage lag alignment (round 10): the a/b filter branches
    # each re-ran the whole scan+hourly-aggregate (no reuse across the
    # differently-filtered shapes) before a 7-way lag join.  Instead,
    # every hourly row fans out to its 7 lag-keyed copies in one
    # projection — a-rows keyed at their own hour, b-rows shifted by
    # lag·1h — and a (hour, lag) aggregate pairs them: a group holding
    # both an a and a b value IS exactly one row of the old join.
    lags_csv = ", ".join(f"{v}L" for v in _LL_LAGS)
    shift = 3_600_000_000
    stream = hourly.select(
        F.explode(
            F.expr(
                f"""
                CASE WHEN event_type = '{_LL_A}' THEN
                  transform(array({lags_csv}), l -> struct(
                    h_us AS h, l AS lag_h,
                    avg_e6 AS a_e6, CAST(NULL AS BIGINT) AS b_e6))
                ELSE
                  transform(array({lags_csv}), l -> struct(
                    h_us + l * {shift} AS h, l AS lag_h,
                    CAST(NULL AS BIGINT) AS a_e6, avg_e6 AS b_e6))
                END"""
            )
        ).alias("e")
    ).select("e.h", "e.lag_h", "e.a_e6", "e.b_e6")
    pairs = (
        stream.groupBy("h", "lag_h")
        .agg(F.max("a_e6").alias("a_e6"), F.max("b_e6").alias("b_e6"))
        .filter(F.col("a_e6").isNotNull() & F.col("b_e6").isNotNull())
        .select(
            "lag_h",
            (F.col("a_e6").cast("double") / 1e6).alias("x"),
            (F.col("b_e6").cast("double") / 1e6).alias("y"),
        )
    )
    agg = pairs.groupBy("lag_h").agg(
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
    scored = agg.filter(den2 > 0).select(
        "lag_h", "n", F.floor(r * 1_000_000).cast("long").alias("r_ppm")
    )
    w = Window.orderBy(F.abs(F.col("r_ppm")).desc(), F.col("lag_h").asc())
    return (
        scored.withColumn("best_rank", F.row_number().over(w).cast("long"))
        .orderBy("lag_h")
    )


TS_LEADLAG_SQL = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS h_us,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      // COUNT(*) AS avg_e6
  FROM events WHERE event_type IN ('{_LL_A}', '{_LL_B}')
  GROUP BY event_type, h_us
),
pairs AS (
  SELECT l.lag_h,
    CAST(a.avg_e6 AS DOUBLE) / 1e6 AS x,
    CAST(b.avg_e6 AS DOUBLE) / 1e6 AS y
  FROM (SELECT unnest([{", ".join(str(v) for v in _LL_LAGS)}]) AS lag_h) l
  CROSS JOIN (SELECT h_us AS ah_us, avg_e6 FROM hourly
              WHERE event_type = '{_LL_A}') a(ah_us, avg_e6)
  JOIN (SELECT h_us AS bh_us, avg_e6 FROM hourly
        WHERE event_type = '{_LL_B}') b
    ON a.ah_us = b.bh_us + l.lag_h * 3600000000
),
agg AS (
  SELECT lag_h, COUNT(*) AS n,
    CAST(FLOOR(SUM(CAST(x AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sx_e6,
    CAST(FLOOR(SUM(CAST(y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sy_e6,
    CAST(FLOOR(SUM(CAST(x * y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sxy_e6,
    CAST(FLOOR(SUM(CAST(x * x AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sxx_e6,
    CAST(FLOOR(SUM(CAST(y * y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS syy_e6
  FROM pairs GROUP BY lag_h
),
scored AS (
  SELECT CAST(lag_h AS BIGINT) AS lag_h, CAST(n AS BIGINT) AS n,
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
)
SELECT lag_h, n, r_ppm,
  CAST(ROW_NUMBER() OVER (ORDER BY ABS(r_ppm) DESC, lag_h ASC) AS BIGINT)
    AS best_rank
FROM scored ORDER BY lag_h
"""

register("ts_leadlag_corr", ts_leadlag_corr, TS_LEADLAG_SQL)


# ---------------------------------------------------------------------------
# Source vocabulary overlap (pairwise Jaccard)
# ---------------------------------------------------------------------------
def docs_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources, in exact ppm.

    The crawl-dedup planning view: which shards share vocabulary (and
    are near-dup candidates worth cross-checking) vs genuinely novel.
    |A∩B| via a self-join of the distinct (source, term) table on term;
    |A∪B| = |A|+|B|−|A∩B| — integers throughout.

    Scale: the distinct-term table is vocabulary-sized per source; the
    intersection join is term-keyed, source-pair output is sources².
    """
    from kukur_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    vocab = (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("term")
        )
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).alias("v_size")
    )
    inter = (
        vocab.alias("a")
        .join(
            vocab.alias("b"),
            on=[
                F.col("a.term") == F.col("b.term"),
                F.col("a.source") < F.col("b.source"),
            ],
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a")
                        .withColumnRenamed("v_size", "size_a")),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "source_b")
                        .withColumnRenamed("v_size", "size_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_common",
            "size_a",
            "size_b",
            F.expr(
                "div(n_common * 1000000, size_a + size_b - n_common)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


DOCS_SOURCE_OVERLAP_SQL = """
WITH vocab AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS term
  FROM documents
),
sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS v_size
  FROM vocab GROUP BY source
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
    CAST(COUNT(*) AS BIGINT) AS n_common
  FROM vocab a JOIN vocab b
    ON a.term = b.term AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b, i.n_common,
  sa.v_size AS size_a, sb.v_size AS size_b,
  (i.n_common * 1000000) // (sa.v_size + sb.v_size - i.n_common)
    AS jaccard_ppm
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
ORDER BY i.source_a, i.source_b
"""

register("docs_source_overlap", docs_source_overlap, DOCS_SOURCE_OVERLAP_SQL)

"""Round-2 third batch: count-min sketch, document-frequency quality,
co-occurrence triangles, matrix-profile nearest neighbor, matrix-free
power iteration.

Beyond-reference training-pipeline/analytics operators (the reference
gateway has no aggregate/join executor — SURVEY §2.3/§2.4); every query
carries an exact DuckDB oracle.  All hot paths are JVM column
expressions; shuffles are keyed partial aggregations, and every small
side that must meet a large stream is broadcast explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.operators.dedup import md5_long_sql
from kukur_spark.registry import register


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------
_CMS_DEPTH = 4
_CMS_WIDTH = 64


def text_cms_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitter tokens via a count-min sketch (d=4, w=64).

    The sketch is built FROM the per-token partial counts, not the raw
    token stream: at 100 TB the token explode happens map-side, partial
    aggregation combines per task, and only ``d*w`` (=256) cells cross
    the wire per partition — the sketch is a bounded-size mergeable
    summary no matter the corpus size.  Estimates are read back by
    joining the candidate tokens against the broadcast 256-row sketch;
    the exact count rides along only to expose the overestimate
    (``est >= exact`` always; equality when no bucket collisions).
    Hashes are md5-derived (`operators/dedup.py::md5_long_sql`) so the
    DuckDB oracle replays them bit-for-bit.
    """
    docs = load_table(spark, sf, "documents")
    tok_counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    depths = F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))
    cells = tok_counts.select(
        "token",
        "exact",
        F.explode(depths).alias("depth"),
    ).withColumn(
        "bucket",
        F.pmod(
            F.expr(md5_long_sql("concat(token, '#', depth)")),
            F.lit(_CMS_WIDTH),
        ),
    )
    sketch = cells.groupBy("depth", "bucket").agg(
        F.sum("exact").alias("cell")
    )
    est = (
        cells.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("token")
        .agg(F.min("cell").alias("est"), F.first("exact").alias("exact"))
    )
    return est.select("token", "est", "exact").orderBy(
        F.desc("est"), "token"
    ).limit(20)


TEXT_CMS_SQL = f"""
WITH cnt AS (
  SELECT token, COUNT(*) AS exact
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
cells AS (
  SELECT token, exact, depth,
    ('0x' || substr(md5(token || '#' || depth), 1, 15))::BIGINT
      % {_CMS_WIDTH} AS bucket
  FROM cnt, (SELECT unnest(range({_CMS_DEPTH})) AS depth)
),
sketch AS (
  SELECT depth, bucket, CAST(SUM(exact) AS BIGINT) AS cell
  FROM cells GROUP BY depth, bucket
)
SELECT c.token, MIN(s.cell) AS est, MIN(c.exact) AS exact
FROM cells c JOIN sketch s USING (depth, bucket)
GROUP BY c.token
ORDER BY est DESC, token
LIMIT 20
"""

register("text_cms_topk", text_cms_topk, TEXT_CMS_SQL)


# ---------------------------------------------------------------------------
# Document-frequency quality score
# ---------------------------------------------------------------------------
def text_df_score(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document mean corpus document-frequency of its distinct tokens.

    A classic training-data rarity signal: documents whose vocabulary is
    corpus-common score high, rare/garbled documents score low.  Two
    keyed aggregations (distinct pairs, then token df) and one shuffle
    join on ``token`` — at 100 TB the df table is vocabulary-sized and
    the join key is the natural partitioner; the mean is integer-exact
    (``sum(df)*1e6 div n``), never a float.
    """
    docs = load_table(spark, sf, "documents")
    pairs = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    dfreq = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        pairs.join(dfreq, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr("(sum(df) * 1000000L) div count(1)").alias("mean_df_e6"),
        )
        .orderBy("doc_id")
    )


TEXT_DF_SQL = """
WITH pairs AS (
  SELECT DISTINCT doc_id, token
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents)
),
dfreq AS (SELECT token, COUNT(*) AS df FROM pairs GROUP BY token)
SELECT p.doc_id, COUNT(*) AS n_tokens,
  (CAST(SUM(df) AS BIGINT) * 1000000) // COUNT(*) AS mean_df_e6
FROM pairs p JOIN dfreq USING (token)
GROUP BY p.doc_id
ORDER BY doc_id
"""

register("text_df_score", text_df_score, TEXT_DF_SQL)


# ---------------------------------------------------------------------------
# Token co-occurrence triangles
# ---------------------------------------------------------------------------
def graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle counts in the token co-occurrence graph.

    Edges: token pairs co-occurring in >= 63 % of documents (relative
    support so every scale factor yields a comparable graph).  Triangles
    are enumerated with the oriented wedge join — every edge is stored
    once as ``x < y``, wedges extend ``(x,y)`` with ``(y,z)``, and a
    semi-join against the edge set closes them, so each triangle is
    produced exactly once and the join size is bounded by out-degrees.
    At real scale the orientation would be by degree (makes the wedge
    count sum-of-squares of the *smaller* degrees); by token id here,
    noted because the vocabulary is tiny.  The edge list is
    support-thresholded — vocabulary-sized, not corpus-sized — so both
    triangle joins broadcast.
    """
    docs = load_table(spark, sf, "documents")
    n_docs = docs.select(
        F.count(F.lit(1)).alias("n_docs")
    )
    # pair generation is fully map-side: per-doc sorted distinct token
    # arrays, then (x, slice-after-x) explodes — no self-join, no
    # distinct shuffle; the only exchange is the (x, y) support count
    toks = docs.select(
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("ta")
    )
    e1 = toks.select(F.posexplode("ta").alias("i", "x"), "ta")
    pair_gen = e1.select(
        "x",
        F.explode(
            F.slice("ta", F.col("i") + 2, F.size("ta"))
        ).alias("y"),
    )
    edges = (
        pair_gen.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("sup"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("sup") * 100 >= F.col("n_docs") * 63)
        .select("x", "y")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(
            F.broadcast(e2), F.col("e1.y") == F.col("e2.x")
        )
        .join(
            F.broadcast(e3),
            (F.col("e3.x") == F.col("e1.x"))
            & (F.col("e3.y") == F.col("e2.y")),
            "left_semi",
        )
        .select(
            F.col("e1.x").alias("na"),
            F.col("e1.y").alias("nb"),
            F.col("e2.y").alias("nc"),
        )
    )
    nodes = (
        tri.select(F.col("na").alias("node"))
        .unionAll(tri.select(F.col("nb").alias("node")))
        .unionAll(tri.select(F.col("nc").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .orderBy(F.desc("n_tri"), "node")
        .limit(20)
    )


GRAPH_TRI_SQL = """
WITH pairs AS (
  SELECT DISTINCT doc_id, token
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents)
),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
e AS (
  SELECT a.token AS x, b.token AS y
  FROM pairs a JOIN pairs b
    ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY a.token, b.token
  HAVING COUNT(*) * 100 >= (SELECT n_docs FROM nd) * 63
),
tri AS (
  SELECT e1.x AS na, e1.y AS nb, e2.y AS nc
  FROM e e1
  JOIN e e2 ON e1.y = e2.x
  WHERE EXISTS (SELECT 1 FROM e e3
                WHERE e3.x = e1.x AND e3.y = e2.y)
),
nodes AS (
  SELECT na AS node FROM tri
  UNION ALL SELECT nb FROM tri
  UNION ALL SELECT nc FROM tri
)
SELECT node, COUNT(*) AS n_tri
FROM nodes GROUP BY node
ORDER BY n_tri DESC, node
LIMIT 20
"""

register("graph_triangles", graph_triangles, GRAPH_TRI_SQL)


# ---------------------------------------------------------------------------
# Matrix-profile nearest neighbor (non-overlapping windows)
# ---------------------------------------------------------------------------
_MP_M = 16


def ts_matrix_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-neighbor squared distance per length-16 subsequence.

    A matrix-profile-style motif/anomaly primitive: each complete
    non-overlapping window of 16 samples per series finds its closest
    other window under squared Euclidean distance.  Windows are packed
    into arrays with one keyed aggregation, then the per-series window
    set self-joins and distances run entirely in ``zip_with`` +
    ``aggregate`` (JVM, no Python).  Values are e3-quantized through a
    decimal bridge so the distance is integer-exact cross-engine
    (values <= ~560 -> diffs^2 <= ~1.3e12, x16 fits a long with room).
    The pair join is per-series quadratic in *windows* (n/16 of the
    points); at 100 TB the standard refinement is bucketing windows by
    an LSH/PAA prefix first — the same banding machinery as
    `operators/dedup.py` — so this keeps the exact-verify role.
    """
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = events.select(
        "event_type",
        "ts",
        "event_id",
        F.floor(
            F.col("value").cast("decimal(30,10)") * 1_000
        ).cast("long").alias("v"),
    ).withColumn("rn", F.row_number().over(w) - 1)
    pts = base.select(
        "event_type",
        F.expr(f"rn div {_MP_M}").alias("win"),
        F.expr(f"rn % {_MP_M}").alias("pos"),
        "v",
    )
    wins = (
        pts.groupBy("event_type", "win")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ).alias("vec"),
        )
        .filter(F.col("n") == _MP_M)
        .drop("n")
    )
    a, b = wins.alias("a"), wins.alias("b")
    d = (
        a.join(b, "event_type")
        .filter(F.col("a.win") != F.col("b.win"))
        .select(
            "event_type",
            F.col("a.win").alias("win"),
            F.col("b.win").alias("w2"),
            F.aggregate(
                F.zip_with(
                    F.col("a.vec"),
                    F.col("b.vec"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
    )
    return (
        d.groupBy("event_type", "win")
        .agg(
            F.min("d2").alias("nn_d2"),
            F.min_by("w2", F.struct("d2", "w2")).alias("nn_win"),
        )
        .select("event_type", "win", "nn_win", "nn_d2")
        .orderBy("event_type", "win")
    )


TS_MP_SQL = f"""
WITH base AS (
  SELECT event_type,
    CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000) AS BIGINT) AS v,
    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
      - 1 AS rn
  FROM events
),
pts AS (
  SELECT event_type, rn // {_MP_M} AS win, rn % {_MP_M} AS pos, v
  FROM base
),
full_w AS (
  SELECT event_type, win FROM pts
  GROUP BY event_type, win HAVING COUNT(*) = {_MP_M}
),
p2 AS (SELECT pts.* FROM pts JOIN full_w USING (event_type, win)),
d AS (
  SELECT a.event_type, a.win, b.win AS w2,
    CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS d2
  FROM p2 a JOIN p2 b
    ON a.event_type = b.event_type AND a.pos = b.pos
    AND a.win <> b.win
  GROUP BY a.event_type, a.win, b.win
)
SELECT event_type, win, w2 AS nn_win, d2 AS nn_d2
FROM d
QUALIFY row_number() OVER (PARTITION BY event_type, win
                           ORDER BY d2, w2) = 1
ORDER BY event_type, win
"""

register("ts_matrix_profile", ts_matrix_profile, TS_MP_SQL)


# ---------------------------------------------------------------------------
# Matrix-free power-iteration step (top principal direction)
# ---------------------------------------------------------------------------
def emb_power_iter(spark: SparkSession, sf: str) -> DataFrame:
    """One matrix-free power-iteration step: y = Aᵀ(A·1).

    The Gram matrix AᵀA (d x d) is never materialized — the step is two
    passes over the rows: the per-row projection ``s_r = Σ_j v_rj`` is a
    pure array fold (no shuffle), and ``y_j = Σ_r s_r * v_rj`` is one
    posexplode + partial aggregation whose shuffle carries d partial
    sums per task, independent of row count.  That is the shape that
    survives 100 TB of embeddings; materializing AᵀA via a d x d
    explode-join would shuffle d^2 cells per row.  Components are
    e6-quantized through the decimal bridge so every sum is
    integer-exact (|v|<0.6 -> s_r <= 3.8e7, products <= 2.3e13, sums
    well inside a long).
    """
    emb = load_table(spark, sf, "embeddings")
    quant = F.transform(
        "embedding",
        lambda v: F.floor(
            v.cast("double").cast("decimal(30,10)") * 1_000_000
        ).cast("long"),
    )
    rows = emb.select("vec_id", quant.alias("q")).withColumn(
        "s",
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x),
    )
    dims = rows.select("s", F.posexplode("q").alias("p", "v"))
    return (
        dims.groupBy((F.col("p") + 1).cast("long").alias("dim"))
        .agg(F.sum(F.col("s") * F.col("v")).cast("long").alias("y"))
        .orderBy("dim")
    )


EMB_POWER_SQL = """
WITH qv AS (
  SELECT vec_id, dim,
    CAST(FLOOR(CAST(CAST(embedding[dim] AS DOUBLE) AS DECIMAL(30,10))
               * 1000000) AS BIGINT) AS v
  FROM (SELECT vec_id,
          unnest(generate_series(1, len(embedding))) AS dim,
          embedding
        FROM embeddings)
),
s AS (SELECT vec_id, CAST(SUM(v) AS BIGINT) AS s FROM qv GROUP BY vec_id)
SELECT dim, CAST(SUM(s.s * qv.v) AS BIGINT) AS y
FROM qv JOIN s USING (vec_id)
GROUP BY dim
ORDER BY dim
"""

register("emb_power_iter", emb_power_iter, EMB_POWER_SQL)


# ---------------------------------------------------------------------------
# First-occurrence n-gram novelty
# ---------------------------------------------------------------------------
def docs_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document novel word-trigram share (first-occurrence by doc_id).

    The dedup-adjacent freshness signal used when growing a corpus:
    a document's trigrams are "novel" if no lower-numbered document
    contains them.  Trigram generation is map-side (one ``transform``
    over the token array — no explode-then-window); attribution is one
    ``min(doc_id)`` aggregate per distinct gram and a join back on the
    gram, so the shuffle carries (gram, doc) pairs once and the gram
    space — not the corpus — bounds state, the same shape at 100 TB.
    The share is integer-exact ppm.
    """
    docs = load_table(spark, sf, "documents")
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(split(text, ' ')) >= 3 THEN "
                    "array_distinct(transform("
                    "  sequence(1, size(split(text, ' ')) - 2),"
                    "  i -> array_join(slice(split(text, ' '), i, 3), ' ')))"
                    " ELSE array() END"
                )
            ).alias("gram"),
        )
    )
    # grams feed both the min aggregate and the join back — persist the
    # exploded frame so the trigram generation runs once, not twice
    from kukur_spark.io import persist_once

    grams = persist_once(grams)
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm", F.expr("(n_novel * 1000000L) div n_grams")
        )
        .orderBy("doc_id")
    )


DOCS_NOVELTY_SQL = """
WITH grams AS (
  SELECT DISTINCT doc_id, gram
  FROM (
    SELECT doc_id,
      array_to_string(ta[i:i+2], ' ') AS gram
    FROM (SELECT doc_id, string_split(text, ' ') AS ta FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(ta) - 2)) AS i)
  )
),
first AS (SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram)
SELECT g.doc_id, COUNT(*) AS n_grams,
  CAST(SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_novel,
  (CAST(SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
    * 1000000) // COUNT(*) AS novelty_ppm
FROM grams g JOIN first USING (gram)
GROUP BY g.doc_id
ORDER BY doc_id
"""

register("docs_novelty", docs_novelty, DOCS_NOVELTY_SQL)


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights
# ---------------------------------------------------------------------------
def docs_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Sampling weights per source at temperature T=2 (w ∝ n^(1/2)).

    The multinomial mixture reweighting used to upsample small domains
    when composing training data.  One count aggregate, the sqrt on the
    per-source count (IEEE-correctly-rounded, so bit-identical
    cross-engine), then an integer share against the broadcast total —
    no floating division ever reaches the output.
    """
    docs = load_table(spark, sf, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    weights = counts.withColumn(
        "w_e6",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1_000_000).cast(
            "long"
        ),
    )
    total = weights.select(F.sum("w_e6").alias("w_total"))
    return (
        weights.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "w_e6",
            F.expr("(w_e6 * 1000000L) div w_total").alias("share_ppm"),
        )
        .orderBy("source")
    )


DOCS_TEMP_SQL = """
WITH w AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT) AS w_e6
  FROM documents GROUP BY source
)
SELECT source, n_docs, w_e6,
  (w_e6 * 1000000) // (SELECT CAST(SUM(w_e6) AS BIGINT) FROM w)
    AS share_ppm
FROM w ORDER BY source
"""

register("docs_temperature_mix", docs_temperature_mix, DOCS_TEMP_SQL)


# ---------------------------------------------------------------------------
# Banded matrix profile: the 100 TB scale path for ts_matrix_profile
# ---------------------------------------------------------------------------
_MP_Q = 200_000  # PAA segment-sum quantum (e3 units)


def ts_matrix_profile_banded(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed nearest neighbor: PAA-prefix banding before distances.

    The scale path for ``ts_matrix_profile``: windows are first keyed by
    their quantized PAA sketch (4 segment sums, each bucketed by a fixed
    quantum), and distances are only computed between windows sharing
    the key — the same banding idea as MinHash LSH, applied to
    subsequences.  On this data the candidate-pair count drops ~19×
    versus all-pairs; at 100 TB the per-bucket quadratic replaces the
    per-series quadratic, and the bucket key (not the series) becomes
    the shuffle partitioner, so skew tooling (salting wide buckets)
    composes directly.  Windows whose bucket is a singleton emit
    nothing — the recall trade the banding makes, visible as missing
    rows rather than silently wrong neighbors.  Everything is the same
    e3-integer math as the exact variant, so the DuckDB oracle replays
    the bucketing bit-for-bit.
    """
    events = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = events.select(
        "event_type",
        F.floor(
            F.col("value").cast("decimal(30,10)") * 1_000
        ).cast("long").alias("v"),
        (F.row_number().over(w) - 1).alias("rn"),
    )
    pts = base.select(
        "event_type",
        F.expr(f"rn div {_MP_M}").alias("win"),
        F.expr(f"rn % {_MP_M}").alias("pos"),
        "v",
    )
    wins = (
        pts.groupBy("event_type", "win")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ).alias("vec"),
        )
        .filter(F.col("n") == _MP_M)
        .drop("n")
    )
    banded = wins.withColumn(
        "band",
        F.concat_ws(
            ",",
            *[F.expr(f"string(aggregate(slice(vec, {s * 4 + 1}, 4), 0L, (acc, x) -> acc + x) div {_MP_Q})") for s in range(4)],
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    d = (
        a.join(b, ["event_type", "band"])
        .filter(F.col("a.win") != F.col("b.win"))
        .select(
            "event_type",
            F.col("a.win").alias("win"),
            F.col("b.win").alias("w2"),
            F.aggregate(
                F.zip_with(
                    F.col("a.vec"),
                    F.col("b.vec"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
    )
    return (
        d.groupBy("event_type", "win")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.min("d2").alias("nn_d2"),
            F.min_by("w2", F.struct("d2", "w2")).alias("nn_win"),
        )
        .select("event_type", "win", "n_cand", "nn_win", "nn_d2")
        .orderBy("event_type", "win")
    )


TS_MP_BANDED_SQL = f"""
WITH base AS (
  SELECT event_type,
    CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000) AS BIGINT) AS v,
    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
      - 1 AS rn
  FROM events
),
pts AS (
  SELECT event_type, rn // {_MP_M} AS win, rn % {_MP_M} AS pos, v
  FROM base
),
full_w AS (
  SELECT event_type, win FROM pts
  GROUP BY event_type, win HAVING COUNT(*) = {_MP_M}
),
p2 AS (SELECT pts.* FROM pts JOIN full_w USING (event_type, win)),
segs AS (
  SELECT event_type, win, pos // 4 AS seg,
    CAST(SUM(v) AS BIGINT) // {_MP_Q} AS b
  FROM p2 GROUP BY event_type, win, seg
),
keys AS (
  SELECT event_type, win,
    array_to_string(list(b ORDER BY seg), ',') AS band
  FROM segs GROUP BY event_type, win
),
cand AS (
  SELECT a.event_type, a.win AS w1, b.win AS w2
  FROM keys a JOIN keys b
    ON a.event_type = b.event_type AND a.band = b.band
    AND a.win <> b.win
),
d AS (
  SELECT c.event_type, c.w1, c.w2,
    CAST(SUM((pa.v - pb.v) * (pa.v - pb.v)) AS BIGINT) AS d2
  FROM cand c
  JOIN p2 pa ON pa.event_type = c.event_type AND pa.win = c.w1
  JOIN p2 pb ON pb.event_type = c.event_type AND pb.win = c.w2
    AND pb.pos = pa.pos
  GROUP BY c.event_type, c.w1, c.w2
)
SELECT event_type, w1 AS win,
  COUNT(*) OVER (PARTITION BY event_type, w1) AS n_cand,
  w2 AS nn_win, d2 AS nn_d2
FROM d
QUALIFY row_number() OVER (PARTITION BY event_type, w1
                           ORDER BY d2, w2) = 1
ORDER BY event_type, win
"""

register(
    "ts_matrix_profile_banded", ts_matrix_profile_banded, TS_MP_BANDED_SQL
)

"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query
  side across the corpus, rank per query. The corpus scan is
  embarrassingly parallel; the only shuffle is the per-query top-k window
  (k rows per query survive the partial sort thanks to AQE + the window
  rank filter).
- ``random_hyperplane_buckets`` / ``lsh_topk``: the scale path — a
  deterministic signed-random-projection LSH; candidates come from an
  equi-join on bucket signature, so the corpus is never crossed with the
  query set.
- ``ivf_assign`` / ``ivf_topk``: IVF-style partitioning — corpus vectors
  assigned to their nearest of C seed centroids; a query probes the
  ``nprobe`` nearest centroids only.

All dot products are built-in higher-order functions (``zip_with`` +
``aggregate``) over double-cast arrays — JVM-side, no Python in the loop —
written once each as SQL fragments (``dot_sql``, ``norm_sql``,
``cosine_sql``, ``as_double_sql``), and every ranking uses the one
(score desc, id asc) tie rule of ``rank_sql``.

The fold form is deliberate, not an oversight: unrolling the dot
product into a flat left-associated 64-term sum (bit-identical IEEE
order) was prototyped and measured in the round-10 optimization pass —
it is 2.8–3.5× SLOWER than the fold on Spark 4.1.2 (400k pairs, noop
sink: fold 1.96–2.40 s vs unrolled 6.7–7.0 s, both over
BroadcastNestedLoopJoin and BroadcastHashJoin pair shapes, chunked
sub-expression variant no better).  Do not "optimize" it back.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kukur_spark.io import persist_once


# One SQL fragment per expression; Column-API callers wrap one in
# ``F.expr`` (one parse instead of ~40 py4j round trips per use).
def as_double_sql(v: str) -> str:
    """SQL fragment: the array ``v`` with every element cast to DOUBLE."""
    return f"transform({v}, x -> CAST(x AS DOUBLE))"


def dot_sql(a: str, b: str) -> str:
    """SQL fragment: dot product of two double arrays (positional fold)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        " (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    """SQL fragment: Euclidean norm of a double array."""
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    """SQL fragment: cosine similarity of two double arrays."""
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def rank_sql(partition: str, score: str, tie: str) -> str:
    """SQL fragment: the top-k tie rule of every similarity ranking —
    row number within ``partition`` by ``score`` descending, ties broken
    by ``tie`` ascending."""
    return (
        f"row_number() OVER (PARTITION BY {partition}"
        f" ORDER BY {score} DESC, {tie} ASC)"
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    exclude_same_id: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Returns ``query_id, neighbor_id, cos_sim`` (rounded to 6), ties broken
    by neighbor id for determinism. The query side is broadcast — never
    shuffle the corpus.

    ``exclude_same_id`` assumes queries and corpus share one id namespace
    (self-search); pass False when they are distinct tables whose ids may
    collide coincidentally.
    """
    # norms precomputed per vector BEFORE the join: computing them inside
    # the N×Q projection would redo the O(d) aggregate per candidate pair.
    # One parameterized spark.sql call — the Column-object form cost ~360
    # py4j round trips (~0.10 s driver latency per construction, measured
    # round 11); identical physical plan (plans/r11 + scripts/plan_diff.py).
    condition = "query_id != neighbor_id" if exclude_same_id else "true"
    sql = f"""
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, {rank_sql("query_id", "cos_sim", "neighbor_id")} AS rank
  FROM (
    SELECT /*+ BROADCAST(q) */ c.*, q.*,
           {dot_sql("qv", "cv")} / (qn * cn) AS cos_sim
    FROM (
      SELECT *, {norm_sql("cv")} AS cn
      FROM (SELECT `{id_column}` AS neighbor_id,
                   {as_double_sql(f"`{vector_column}`")} AS cv
            FROM {{corpus}})
    ) c
    JOIN (
      SELECT *, {norm_sql("qv")} AS qn
      FROM (SELECT `{id_column}` AS query_id,
                   {as_double_sql(f"`{vector_column}`")} AS qv
            FROM {{queries}})
    ) q ON {condition}
  )
)
WHERE rank <= {int(k)}
"""
    return corpus.sparkSession.sql(sql, corpus=corpus, queries=queries)


# ---------------------------------------------------------------------------
# LSH: deterministic signed random projections
# ---------------------------------------------------------------------------
def plane_components(plane: int, dim: int) -> list:
    """Pseudo-random hyperplane components in [-1, 1), deterministic from
    (plane, dimension) via md5 — computed driver-side once and shipped as
    literals, so (a) rows never re-hash the constant planes and (b) any
    engine with the same md5-derived table reproduces the buckets exactly
    (the DuckDB oracle embeds the same literals)."""
    return [
        (
            int(hashlib.md5(f"pl{plane}_{d}".encode()).hexdigest()[:15], 16)
            % 2_000_003
        )
        / 1_000_001.5
        - 1.0
        for d in range(dim)
    ]


def _hyperplane_signature_sql(v_sql: str, num_planes: int, dim: int) -> str:
    """SQL fragment: ``num_planes``-bit sign signature of a vector against
    the :func:`plane_components` hyperplanes, over an ALREADY double-cast
    array expression (pass a column name, not an inline transform — the
    fragment references it ~3×`num_planes` times).  ``repr`` round-trips
    every plane component exactly; a vector longer than ``dim`` raises."""
    bits = []
    for p in range(num_planes):
        plane = (
            "array("
            + ", ".join(f"{c!r}D" for c in plane_components(p, dim))
            + ")"
        )
        proj = (
            f"aggregate(zip_with({v_sql}, slice({plane}, 1, size({v_sql})),"
            " (x, c) -> x * c), 0.0D, (acc, x) -> acc + x)"
        )
        bits.append(
            f"(CASE WHEN {proj} > 0 THEN shiftleft(CAST(1 AS BIGINT), {p})"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    out = bits[0]
    for b in bits[1:]:
        out = f"({out} | {b})"
    return (
        f"CASE WHEN size({v_sql}) > {dim} THEN CAST(raise_error("
        f"'hyperplane_signature: vector longer than dim={dim}') AS BIGINT)"
        f" ELSE {out} END"
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket with the query.

    With ``num_planes`` = 8 the corpus splits into ≤256 buckets; the
    candidate join is an equi-join on the signature, so cost scales with
    bucket size, not corpus size. Recall is approximate by construction.

    One parameterized spark.sql statement — the Column-object form of
    the two signature projections built ~1 100 per-component ``F.lit``
    round trips (~1.1 s driver latency per construction, round 11);
    same resolved trees (plans/r11 + scripts/plan_diff.py).
    """
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    vec = as_double_sql(f"`{vector_column}`")
    sql = f"""
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, {rank_sql("query_id", "cos_sim", "neighbor_id")} AS rank
  FROM (
    SELECT /*+ BROADCAST(q) */ c.*, q.*,
           {dot_sql("qv", "cv")} / (qn * cn) AS cos_sim
    FROM (
      SELECT *, {norm_sql("cv")} AS cn
      FROM (
        SELECT neighbor_id, cv,
               {_hyperplane_signature_sql('cv', num_planes, dim)} AS bucket
        FROM (
          SELECT `{id_column}` AS neighbor_id, {vec} AS cv
          FROM (SELECT /*+ REPARTITION({n_parts}, `{id_column}`) */ *
                FROM {{corpus}})
        )
      )
    ) c
    JOIN (
      SELECT *, {norm_sql("qv")} AS qn
      FROM (
        SELECT query_id, qv,
               {_hyperplane_signature_sql('qv', num_planes, dim)} AS bucket
        FROM (SELECT `{id_column}` AS query_id, {vec} AS qv
              FROM {{queries}})
      )
    ) q USING (bucket)
    WHERE query_id != neighbor_id
  )
)
WHERE rank <= {int(k)}
"""
    return corpus.sparkSession.sql(sql, corpus=corpus, queries=queries)


# ---------------------------------------------------------------------------
# IVF-style coarse quantization
# ---------------------------------------------------------------------------
def ivf_assign(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Assign every vector to its nearest seed centroid.

    Seeds are the ``num_centroids`` lowest-id vectors (deterministic; a
    k-means refinement can replace the seeds without changing the plan).
    Returns (centroids, assignments) — the assignment join broadcasts the
    centroid list, the arg-min is a per-row expression.
    """
    centroids = (
        corpus.orderBy(F.col(id_column).asc())
        .limit(num_centroids)
        .selectExpr(
            f"`{id_column}` AS centroid_id",
            f"{as_double_sql(f'`{vector_column}`')} AS centroid",
        )
    )
    centroids = persist_once(centroids)  # num_centroids rows, broadcast
    # into two joins — the cache saves a full corpus take-ordered scan per
    # consumer
    c = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, F.col(id_column)
    ).selectExpr(f"`{id_column}`", f"{as_double_sql(f'`{vector_column}`')} AS v")
    scored = c.join(F.broadcast(centroids)).withColumn(
        "sim", F.expr(cosine_sql("v", "centroid"))
    )
    assignments = (
        scored.withColumn(
            "rn", F.expr(rank_sql(f"`{id_column}`", "sim", "centroid_id"))
        )
        .filter(F.col("rn") == 1)
        .select(id_column, "centroid_id", "v")
    )
    return centroids, assignments


def probe_nearest_centroids(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
) -> DataFrame:
    """Each query's ``nprobe`` nearest centroids (broadcast of the tiny
    centroid table): ``query_id, qv, qn, centroid_id``. Shared by the
    in-memory and the persisted-index IVF paths — tie rule
    (sim desc, centroid_id asc) must stay identical between them."""
    q = queries.selectExpr(
        f"`{id_column}` AS query_id",
        f"{as_double_sql(f'`{vector_column}`')} AS qv",
    ).withColumn("qn", F.expr(norm_sql("qv")))
    return (
        q.join(F.broadcast(centroids))
        .withColumn("centroid_sim", F.expr(cosine_sql("qv", "centroid")))
        .withColumn(
            "rn", F.expr(rank_sql("query_id", "centroid_sim", "centroid_id"))
        )
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qn", "centroid_id")
    )


def score_probed_lists(
    lists: DataFrame,
    probes: DataFrame,
    k: int,
    id_column: str = "vec_id",
) -> DataFrame:
    """Rank the probed inverted lists (columns ``id, v, vn,
    centroid_id``) against broadcast probes: exact cosine within the
    candidate set, per-query top-k with a deterministic tie rule."""
    scored = (
        lists.join(F.broadcast(probes), on="centroid_id")
        .filter(F.col("query_id") != F.col(id_column))
        .withColumn("cos_sim", F.expr(f"{dot_sql('qv', 'v')} / (qn * vn)"))
    )
    return (
        scored.withColumn(
            "rank", F.expr(rank_sql("query_id", "cos_sim", f"`{id_column}`"))
        )
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_column).alias("neighbor_id"),
            F.round("cos_sim", 6).alias("cos_sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
) -> DataFrame:
    """Approximate top-k probing only the ``nprobe`` nearest inverted lists."""
    centroids, assignments = ivf_assign(corpus, num_centroids, id_column, vector_column)
    probes = probe_nearest_centroids(
        queries, centroids, nprobe, id_column, vector_column
    )
    lists = assignments.withColumn("vn", F.expr(norm_sql("v")))
    return score_probed_lists(lists, probes, k, id_column)


def centroid_dims_e6(
    df: DataFrame,
    label_column: str = "label",
    vector_column: str = "embedding",
) -> DataFrame:
    """Integer-exact per-(label, pos) centroid components.

    posexplode → decimal-bridged e6 sums → bigint division; ``pos`` is
    0-based. The single construction behind ``emb_centroid_per_label``
    and ``emb_class_margin`` — the quantization convention lives here
    only.
    """
    dims = df.select(
        F.col(label_column).alias("label"),
        F.posexplode(vector_column).alias("pos", "v"),
    )
    return (
        dims.groupBy("label", "pos")
        .agg(
            F.floor(
                F.sum(F.col("v").cast("double").cast("decimal(30,10)"))
                * 1_000_000
            ).cast("long").alias("sum_e6"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select("label", "pos", F.expr("sum_e6 div cnt").alias("c_e6"))
    )


# DuckDB twin of :func:`centroid_dims_e6` (1-based ``dim``).
CENTROID_DIMS_SQL_CTE = """dims AS (
  SELECT label, unnest(generate_series(1, len(embedding))) AS dim, embedding
  FROM embeddings
),
cent_dims AS (
  SELECT label, dim,
    CAST(FLOOR(SUM(CAST(CAST(embedding[dim] AS DOUBLE)
        AS DECIMAL(30,10))) * 1000000) AS BIGINT) // COUNT(*) AS c_e6
  FROM dims GROUP BY label, dim
)"""


def multi_table_signatures(
    v_sql: str,
    num_planes: int = 3,
    num_tables: int = 8,
    dim: int = 64,
) -> Column:
    """Array of ``num_tables`` namespaced LSH bucket ids for one vector.

    Classic multi-table LSH: each table hashes with its own
    ``num_planes`` hyperplanes (plane indices ``t*num_planes + p`` into
    the shared md5-derived pool, so any engine reproduces them), and a
    candidate pair is anything sharing a bucket in ANY table.  More
    tables raise recall, more planes per table cut candidate volume —
    production tuning grows ``num_planes`` with log(corpus) to hold
    bucket sizes constant.  Bucket ids are namespaced per table
    (``t * 2^num_planes + bits``) so one equi-join over the exploded
    array covers all tables.  ``v_sql`` is the SQL text of the vector
    (e.g. a column name).
    """
    v = F.expr(as_double_sql(v_sql))
    # dim contract: vectors longer than ``dim`` are projected on their
    # first ``dim`` components (NOT null-padded — zip_with pads the
    # shorter side with nulls, which would null every projection and
    # collapse all long vectors into bucket 0 of every table); vectors
    # shorter than ``dim`` use their common prefix with the plane, as
    # before.
    n = F.least(F.size(v), F.lit(dim))
    tables = []
    for t in range(num_tables):
        bits = None
        for p in range(num_planes):
            plane = F.array(
                *[
                    F.lit(c)
                    for c in plane_components(t * num_planes + p, dim)
                ]
            )
            proj = F.aggregate(
                F.zip_with(
                    F.slice(v, 1, n),
                    F.slice(plane, 1, n),
                    lambda x, c: x * c,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bit = F.when(
                proj > 0, F.shiftleft(F.lit(1).cast("long"), p)
            ).otherwise(F.lit(0).cast("long"))
            bits = bit if bits is None else bits.bitwiseOR(bit)
        tables.append(bits + F.lit(t * (1 << num_planes)).cast("long"))
    return F.array(*tables)

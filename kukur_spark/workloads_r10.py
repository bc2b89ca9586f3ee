"""Round-4 batch: data-selection operators for LM training pipelines.

- ``docs_dsir_weights`` — DSIR-style importance weights (Xie et al.
  2023, "Data Selection for Language Models via Importance
  Resampling"): hashed-n-gram bag models for a target and a source
  distribution, per-document importance = Σ per-token log probability
  ratios, top documents selected by weight.  The published recipe for
  "give me web data that looks like Wikipedia", here with the corpus's
  ``lang='en'`` slice as the target distribution.

Exactness: per-feature log-ratios are e6-floored integers (the
``floor(ln(int_ratio)·1e6)`` pattern the bigram-surprisal oracle
established), so per-document sums are order-free integer monoids and
the ranking is deterministic cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.operators.dedup import md5_long_sql
from kukur_spark.registry import register


_DSIR_BUCKETS = 256  # hashed-feature dimensionality (paper: 10k; the
# 40-word synthetic vocabulary saturates far earlier)
_DSIR_TOP = 100


def docs_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Top-100 documents by DSIR importance weight toward the ``en``
    slice.

    Features are md5-hashed unigrams in ``_DSIR_BUCKETS`` buckets; the
    target/source bag models are add-one smoothed bucket counts; a
    document's log-weight is the sum of its token instances' e6-floored
    log probability ratios.

    Scale: token explode is map-side; the feature-stats table is
    bucket-count-sized (256 rows — aggregated once, broadcast back), so
    the only corpus-sized shuffles are the per-doc sum and nothing is
    ever sorted globally (top-100 via ``bounded_rank``).  This is the
    shape DSIR needs at 100 TB: model fitting is a fixed-size sketch,
    scoring is embarrassingly parallel.
    """
    from kukur_spark.operators.scale import bounded_rank

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "text"
    )
    inst = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("tok"),
    ).withColumn("bucket", F.expr(md5_long_sql("tok")) % _DSIR_BUCKETS)
    stats = inst.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
        .cast("long")
        .alias("cs"),
    )
    totals = stats.agg(
        F.sum("ct").alias("nt"), F.sum("cs").alias("ns")
    )
    lr = stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(
            F.log(
                (
                    (F.col("ct") + 1) * (F.col("ns") + _DSIR_BUCKETS)
                ).cast("double")
                / (
                    (F.col("cs") + 1) * (F.col("nt") + _DSIR_BUCKETS)
                ).cast("double")
            )
            * 1_000_000
        )
        .cast("long")
        .alias("lr_e6"),
    )
    weights = (
        inst.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lr_e6").cast("long").alias("logw_e6"),
        )
    )
    return (
        bounded_rank(
            weights,
            [F.col("logw_e6").desc(), F.col("doc_id").asc()],
            _DSIR_TOP,
            "rank",
        )
        .select("doc_id", "n_tokens", "logw_e6", F.col("rank"))
        .orderBy("rank")
    )


DOCS_DSIR_SQL = f"""
WITH inst AS (
  SELECT doc_id, lang,
    unnest(string_split(text, ' ')) AS tok
  FROM documents
),
b AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5(tok), 1, 15))::BIGINT % {_DSIR_BUCKETS} AS bucket
  FROM inst
),
stats AS (
  SELECT bucket,
    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
    CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cs
  FROM b GROUP BY bucket
),
tot AS (SELECT SUM(ct) AS nt, SUM(cs) AS ns FROM stats),
lr AS (
  SELECT bucket,
    CAST(FLOOR(ln(
      CAST((ct + 1) * (ns + {_DSIR_BUCKETS}) AS DOUBLE)
      / CAST((cs + 1) * (nt + {_DSIR_BUCKETS}) AS DOUBLE)
    ) * 1000000) AS BIGINT) AS lr_e6
  FROM stats, tot
),
w AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(SUM(lr_e6) AS BIGINT) AS logw_e6
  FROM b JOIN lr USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_tokens, logw_e6, rank FROM (
  SELECT doc_id, n_tokens, logw_e6,
    CAST(ROW_NUMBER() OVER (ORDER BY logw_e6 DESC, doc_id ASC)
         AS BIGINT) AS rank
  FROM w
) WHERE rank <= {_DSIR_TOP} ORDER BY rank
"""

register("docs_dsir_weights", docs_dsir_weights, DOCS_DSIR_SQL)


# ---------------------------------------------------------------------------
# Soft dedup: down-weight duplicates instead of dropping them
# ---------------------------------------------------------------------------
def docs_softdedup_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document sampling weight 1/|near-dup cluster| (ppm).

    The soft alternative to hard dedup (``dedup_kept``): every member of
    a near-dup component stays in the corpus but its sampling weight is
    divided by the component size, so each *content* — not each copy —
    contributes equally to the training mix.  Clusters are the same
    banded-LSH + exact-Jaccard + pointer-doubling components as
    ``dedup_clusters``; the weight is an exact integer (``div(1e6,
    cluster_size)``).  Output: every clustered doc (cluster_size > 1)
    plus a summary-friendly weight; singletons are implicitly 1e6.
    """
    from kukur_spark.workloads import dedup_doc_groups

    groups = dedup_doc_groups(spark, sf)
    sizes = groups.groupBy("canonical_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        groups.join(sizes, "canonical_id")
        .filter(F.col("cluster_size") > 1)
        .select(
            "doc_id",
            "canonical_id",
            "cluster_size",
            F.expr("div(1000000, cluster_size)").alias("weight_ppm"),
        )
        .orderBy("doc_id")
    )


def _softdedup_sql() -> str:
    from kukur_spark.dedup_sql import DEDUP_CLUSTERS_SQL

    return DEDUP_CLUSTERS_SQL.replace(
        "SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id\n"
        "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id\n"
        "ORDER BY d.doc_id",
        """,
groups AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
sizes AS (
  SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM groups GROUP BY canonical_id
)
SELECT g.doc_id, g.canonical_id, s.cluster_size,
  1000000 // s.cluster_size AS weight_ppm
FROM groups g JOIN sizes s USING (canonical_id)
WHERE s.cluster_size > 1
ORDER BY g.doc_id""",
    )


register("docs_softdedup_weights", docs_softdedup_weights, _softdedup_sql())


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (cluster-aware)
# ---------------------------------------------------------------------------
def docs_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Train/val/test assignment that hashes the near-dup CLUSTER, not
    the document.

    The classic eval-contamination bug: a doc lands in train while its
    near-duplicate lands in test, and the benchmark silently measures
    memorization.  Hashing the cluster's canonical id (md5 first
    nibble, same 12/2/2 rule as ``docs_split_assign``) moves whole
    components together, so near-dups can never straddle splits — by
    construction, and asserted on data in
    ``tests/test_r10_operators.py``.  Clusters are the banded-LSH +
    exact-Jaccard + pointer-doubling components of ``dedup_clusters``
    (exact-dup collapsed — the pre-collapse form OOM-ed the 100× probe;
    see :func:`kukur_spark.workloads.dedup_doc_groups`).
    """
    from kukur_spark.workloads import dedup_doc_groups

    groups = dedup_doc_groups(spark, sf)
    nibble = F.substring(
        F.md5(F.col("canonical_id").cast("string")), 1, 1
    )
    return groups.select(
        "doc_id",
        "canonical_id",
        F.when(nibble < "c", "train")
        .when(nibble < "e", "val")
        .otherwise("test")
        .alias("split"),
    ).orderBy("doc_id")


def _leakage_safe_split_sql() -> str:
    from kukur_spark.dedup_sql import DEDUP_CLUSTERS_SQL

    return DEDUP_CLUSTERS_SQL.replace(
        "SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id\n"
        "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id\n"
        "ORDER BY d.doc_id",
        """,
groups AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
)
SELECT doc_id, canonical_id,
  CASE WHEN substr(md5(CAST(canonical_id AS VARCHAR)), 1, 1) < 'c'
         THEN 'train'
       WHEN substr(md5(CAST(canonical_id AS VARCHAR)), 1, 1) < 'e'
         THEN 'val'
       ELSE 'test' END AS split
FROM groups
ORDER BY doc_id""",
    )


register(
    "docs_leakage_safe_split",
    docs_leakage_safe_split,
    _leakage_safe_split_sql(),
)

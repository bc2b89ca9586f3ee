"""Text analysis operators for large-scale training-data pipelines.

All pure column expressions (JVM-side, whole-stage codegen) — no UDFs:

- whitespace tokenization;
- language identification (marker-token frequencies, deterministic argmax);
- document fingerprinting (md5 content hash + sorted-token shape hash).

Every operator is a narrow projection or a single aggregation — they scale
linearly and partition-local over a 100 TB documents table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = " "


def tokens(text: Column) -> Column:
    return F.split(text, TOKEN_SPLIT)


# marker tokens per language — counted with the replace-length trick so the
# exact same integer arithmetic is expressible in any SQL oracle
LANG_MARKERS = {
    "en": " the ",
    "de": " der ",
    "fr": " le ",
    "es": " el ",
    "zh": "的",
}


def language_id(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Marker-frequency language ID with a deterministic arg-max.

    Ties break in the fixed order en > de > fr > es > zh; documents with no
    marker hits are labeled 'und'.

    Two projections: marker counts once, then the tie-break fold over the
    count *columns*.  The single-projection Column-object form duplicated
    every count expression up to 2⁵ times inside the fold tree (~750 py4j
    round trips, ~0.11 s driver latency per construction — measured round
    10) and relied on codegen subexpression elimination to de-duplicate
    at runtime; here the counts are computed once by construction.
    """
    padded = f"concat(' ', `{text_column}`, ' ')"
    order = list(LANG_MARKERS)
    out = [f"`{c}`" for c in df.columns if c != text_column]
    counted = df.selectExpr(
        *out,
        *[
            f"CAST((length({padded}) - length(replace({padded}, "
            f"'{marker}', ''))) / {len(marker)} AS BIGINT) AS c_{lang}"
            for lang, marker in LANG_MARKERS.items()
        ],
    )
    best = "'und'"
    best_count = "CAST(0 AS BIGINT)"
    for lang in reversed(order):  # earlier languages win ties → apply last
        best = (
            f"CASE WHEN c_{lang} > 0 THEN (CASE WHEN c_{lang} >= "
            f"{best_count} THEN '{lang}' ELSE {best} END) ELSE {best} END"
        )
        best_count = f"greatest({best_count}, c_{lang})"
    return counted.selectExpr(
        *out,
        *[f"c_{lang}" for lang in order],
        f"{best} AS pred_lang",
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    tfidf(term, doc) = tf × ln(N / df), rounded to 6; rank ties break by
    term ascending. Plan shape: explode → two hash aggregates (doc-term tf,
    term df) → broadcast of the (small) df table → per-doc top-k window.
    The explode and aggregates are linear in corpus token count.
    """
    from pyspark.sql import Window

    terms = df.select(
        F.col(id_column), F.explode(tokens(F.col(text_column))).alias("term")
    )
    tf = terms.groupBy(id_column, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = terms.groupBy("term").agg(
        F.countDistinct(id_column).alias("df")
    )
    n_docs = df.select(F.countDistinct(id_column).alias("n"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    window = Window.partitionBy(id_column).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(window))
        .filter(F.col("rank") <= k)
        .select(
            id_column,
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "tfidf",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def fingerprint(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Content + shape fingerprints.

    - ``content_fp``: md5 of the exact text (byte-identical duplicates);
    - ``shape_fp``: md5 of the sorted distinct token list (bag-of-words
      duplicates — robust to token order).
    """
    text = F.col(text_column)
    sorted_tokens = F.array_join(F.array_sort(F.array_distinct(tokens(text))), " ")
    return df.select(
        *[c for c in df.columns if c != text_column],
        F.md5(text).alias("content_fp"),
        F.md5(sorted_tokens).alias("shape_fp"),
    )

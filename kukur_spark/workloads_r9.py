"""Round-3 batch: corpus-curation diagnostics and dedup evaluation.

- ``docs_bigram_surprisal``  — per-document mean bigram surprisal (the
  KenLM-style LM filter, one order up from ``docs_unigram_logprob``);
- ``docs_boilerplate_chunks`` — repeated-chunk detection across docs
  (header/footer/boilerplate removal, the dedup stage below document
  granularity);
- ``docs_blocklist_filter``  — per-source lexicon-filter incidence (the
  policy/toxicity blocklist pass of a curation pipeline);
- ``dedup_lsh_recall``       — measured recall of the MinHash banding
  candidate generator against the exact all-pairs edge set, by
  similarity decile — the evidence behind the LSH edge source's
  documented recall curve.

Every operator is integer-exact (e6/ppm floors before order-free sums)
and oracle-paired; plan killers are pinned at zero by the registry-wide
audit in ``tests/test_plan_audit.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kukur_spark.io import load_table
from kukur_spark.operators.dedup import md5_long_sql, shingles_sql
from kukur_spark.oracle_sql import duck_cos, pq_enc_scored_sql
from kukur_spark.registry import register


# ---------------------------------------------------------------------------
# Bigram surprisal (quality filter, LM order 2)
# ---------------------------------------------------------------------------
def docs_bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus bigram LM.

    s(w1 w2) = ln(c(w1 ·) / c(w1 w2)) — the conditional −ln P(w2|w1)
    with counts over bigram instances (c(w1 ·) counts w1 as a history,
    i.e. over non-final token instances).  A document's score is the
    integer mean of its e6-floored instance surprisals; documents with
    fewer than two tokens have no bigrams and drop out — the same rule
    in both engines.

    Scale: bigrams are a pure map-side projection (index transform over
    the token array — no window, no per-doc shuffle); the bigram
    frequency join is keyed on the bigram string, AQE chooses broadcast
    vs shuffle by vocabulary size; everything else is the unigram plan
    one order up.
    """
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    bigram_expr = (
        "CASE WHEN size(split(text, ' ')) >= 2 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 1), "
        "i -> concat(element_at(split(text, ' '), i), ' ', "
        "element_at(split(text, ' '), i + 1))) "
        "ELSE array() END"
    )
    inst = docs.select(
        "doc_id", F.explode(F.expr(bigram_expr)).alias("bigram")
    )
    # ONE explode pass (round-10 restructure): the former
    # inst→{freq2, hist, join} fan-out evaluated the split+explode
    # subtree three times (three differently-keyed exchanges, no
    # ReuseExchange).  Pre-aggregating to (doc_id, bigram) grain with
    # instance count k collapses that to a single pass, and the corpus
    # counts become vocabulary-sized window sums (c2 over bigram, ch
    # over w1) instead of instance-grain joins.  Every downstream
    # quantity is exact: all instances of a (doc_id, bigram) group share
    # one s_e6, so k·s_e6 and Σk reproduce the per-instance sums in
    # integer arithmetic.  Measured 5.6 s → 2.9 s warm at sf0.1.
    from pyspark.sql import Window as W

    grp = (
        inst.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("k"))
        .withColumn("w1", F.substring_index(F.col("bigram"), " ", 1))
    )
    scored = grp.withColumn(
        "c2", F.sum("k").over(W.partitionBy("bigram"))
    ).withColumn("ch", F.sum("k").over(W.partitionBy("w1"))).withColumn(
        "s_e6",
        F.floor(
            F.log(F.col("ch").cast("double") / F.col("c2")) * 1_000_000
        ).cast("long"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("s_e6")).alias("sum_e6"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("div(sum_e6, n_bigrams)").alias("surprisal2_e6"),
        )
        .orderBy("doc_id")
    )


DOCS_BIGRAM_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
inst AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1])
    ELSE [] END) AS bigram
  FROM t
),
wi AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM inst),
freq2 AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c2 FROM wi GROUP BY bigram
),
hist AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS ch FROM wi GROUP BY w1),
scored AS (
  SELECT wi.doc_id,
    CAST(FLOOR(ln(CAST(h.ch AS DOUBLE) / f.c2) * 1000000) AS BIGINT) AS s_e6
  FROM wi JOIN freq2 f USING (bigram) JOIN hist h USING (w1)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(s_e6) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS surprisal2_e6
FROM scored GROUP BY doc_id ORDER BY doc_id
"""

register("docs_bigram_surprisal", docs_bigram_surprisal, DOCS_BIGRAM_SQL)


# ---------------------------------------------------------------------------
# Boilerplate chunks (sub-document dedup)
# ---------------------------------------------------------------------------
_BP_MIN_DOCS = 2
_BP_TOPK = 20


def docs_boilerplate_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Chunks repeated across documents — the boilerplate report.

    Reuses the chunking grid of ``docs_chunks`` (500-char windows,
    stride 400, md5-fingerprinted): a chunk hash appearing in ≥2
    distinct documents is shared content (near-dup docs, repeated
    headers/footers); the report lists the top ``_BP_TOPK`` by document
    reach with the smallest carrier doc as the example.

    Scale: chunking is map-side, the reach count is one hash aggregate
    on (chunk_md5 → distinct doc) — pre-aggregated per (md5, doc) so no
    distinct-expand — and the report tail is a ``bounded_rank`` top-k,
    never a corpus-sized window.
    """
    from kukur_spark.operators.scale import bounded_rank
    from kukur_spark.workloads_r3 import docs_chunks

    chunks = docs_chunks(spark, sf).select("doc_id", "chunk_md5")
    per_doc = chunks.groupBy("chunk_md5", "doc_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    reach = per_doc.groupBy("chunk_md5").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("example_doc"),
    )
    shared = reach.filter(F.col("n_docs") >= _BP_MIN_DOCS)
    return bounded_rank(
        shared,
        [F.col("n_docs").desc(), F.col("chunk_md5").asc()],
        _BP_TOPK,
        "rank",
    ).select("chunk_md5", "n_docs", "example_doc", "rank").orderBy("rank")


def _bp_sql() -> str:
    from kukur_spark.workloads_r3 import CHUNK_SIZE, CHUNK_STRIDE

    return f"""
WITH base AS (
  SELECT doc_id, text,
    CASE WHEN length(text) > {CHUNK_SIZE}
      THEN (length(text) - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}
      ELSE 0 END AS n_extra
  FROM documents
),
chunks AS (
  SELECT doc_id,
    md5(substr(text, CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT), {CHUNK_SIZE}))
      AS chunk_md5
  FROM base, unnest(generate_series(0, n_extra)) AS u(i)
),
reach AS (
  SELECT chunk_md5,
    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
    MIN(doc_id) AS example_doc
  FROM chunks GROUP BY chunk_md5
)
SELECT chunk_md5, n_docs, example_doc,
  CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, chunk_md5 ASC) AS BIGINT)
    AS rank
FROM reach WHERE n_docs >= {_BP_MIN_DOCS}
ORDER BY rank LIMIT {_BP_TOPK}
"""


register("docs_boilerplate_chunks", docs_boilerplate_chunks, _bp_sql())


# ---------------------------------------------------------------------------
# Lexicon (blocklist) filter incidence
# ---------------------------------------------------------------------------
_BLOCKLIST = ["error", "slow", "fail"]


def docs_blocklist_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source incidence of a policy blocklist — the lexicon-filter
    pass of a curation pipeline (toxicity/spam word lists at scale).

    Emits per source: total docs, flagged docs (≥1 blocklist token),
    total hit instances, and the flagged share in exact ppm.  The
    blocklist ships as an array literal inside the projection — at real
    scale a large lexicon becomes a broadcast join against the exploded
    token stream; the per-doc flag/hit computation stays map-side either
    way (no shuffle before the per-source aggregate).
    """
    blocklist = F.array(*[F.lit(w) for w in _BLOCKLIST])
    docs = load_table(spark, sf, "documents").select(
        "source",
        F.size(
            F.filter(
                F.split(F.col("text"), " "),
                lambda x: F.array_contains(blocklist, x),
            )
        )
        .cast("long")
        .alias("hits"),
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("hits") > 0).cast("long")).alias("n_flagged"),
            F.sum("hits").alias("n_hits"),
        )
        .withColumn(
            "flagged_ppm", F.expr("n_flagged * 1000000L div n_docs")
        )
        .orderBy("source")
    )


_BL_SQL_LIST = ", ".join(f"'{w}'" for w in _BLOCKLIST)
DOCS_BLOCKLIST_SQL = f"""
WITH scored AS (
  SELECT source,
    CAST(len(list_filter(string_split(text, ' '),
      x -> list_contains([{_BL_SQL_LIST}], x))) AS BIGINT) AS hits
  FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
  CAST(SUM(hits) AS BIGINT) AS n_hits,
  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
    // CAST(COUNT(*) AS BIGINT) AS flagged_ppm
FROM scored GROUP BY source ORDER BY source
"""

register("docs_blocklist_filter", docs_blocklist_filter, DOCS_BLOCKLIST_SQL)


# ---------------------------------------------------------------------------
# LSH banding recall vs the exact edge set
# ---------------------------------------------------------------------------
_RECALL_CAP = 2000  # docs in the exact-side verify subset (see docstring)


def dedup_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Measured recall of MinHash banding, by similarity decile.

    For every exact within-source near-dup edge (token Jaccard ≥ 0.2,
    the ``ngram_jaccard`` verify twin), checks whether the md5-LSH
    banding candidate generator (16 hashes × 8 bands — the
    ``lsh_jaccard_edges`` production source) surfaced the pair, and
    aggregates hit rates per Jaccard decile.  This turns the documented
    theoretical recall curve (P = 1-(1-s²)⁸ over 3-SHINGLE similarity)
    into a measured table against a *different* reference criterion.

    Reading the result honestly: on the synthetic corpus the measured
    recall is near zero in every decile — because token-SET Jaccard over
    a small shared vocabulary marks word-shuffled, unrelated documents
    as "similar" (the exact twin produces ~6 k such pairs at sf0.01 and
    its transitive closure collapses 96 % of the corpus into one
    component), while banding only surfaces pairs that share shingle
    STRUCTURE (31 true copies at sf0.01).  The eval is exactly how one
    discovers that mismatch: low recall against a reference criterion
    means the two measure different things — here the reference, not
    the candidate generator, is the wrong near-dup definition.

    Scale: the exact side is all-pairs (quadratic) by definition, so the
    eval runs on a deterministic ``doc_id < _RECALL_CAP`` subset — the
    same capped-verify-subset pattern as ``emb_outlier_knn`` (the 10×
    probe measured the uncapped twin at 204 s vs 6 s; the cap keeps the
    eval constant-cost at any corpus size while remaining a valid recall
    sample).  The LSH side is the linear production plan.  The
    comparison join is keyed on (id_a, id_b).
    """
    from kukur_spark.operators.dedup import (
        EDGE_BANDS,
        EDGE_HASHES,
        _band_candidates,
        _md5_banded,
        _md5_base,
    )
    from kukur_spark.workloads import ngram_jaccard_exact

    exact = (
        ngram_jaccard_exact(spark, sf)
        .filter(
            (F.col("id_a") < _RECALL_CAP) & (F.col("id_b") < _RECALL_CAP)
        )
        .select("id_a", "id_b", "jaccard_e6")
    )
    docs = load_table(spark, sf, "documents").filter(
        F.col("doc_id") < _RECALL_CAP
    )
    base = _md5_base(docs, "text", "doc_id", 3, EDGE_HASHES)
    cand = _band_candidates(
        _md5_banded(base, EDGE_BANDS, EDGE_HASHES // EDGE_BANDS),
        bands=EDGE_BANDS,
    ).withColumn("hit", F.lit(1).cast("long"))
    joined = exact.join(cand, ["id_a", "id_b"], "left").select(
        F.least(F.expr("jaccard_e6 div 100000"), F.lit(9))
        .cast("long")
        .alias("decile"),
        F.coalesce("hit", F.lit(0)).alias("hit"),
    )
    return (
        joined.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum("hit").cast("long").alias("n_hit"),
        )
        .withColumn("recall_ppm", F.expr("n_hit * 1000000L div n_exact"))
        .orderBy("decile")
    )


def _lsh_recall_sql() -> str:
    from kukur_spark.operators.dedup import (
        EDGE_BANDS,
        EDGE_HASHES,
        md5_sig_ctes_sql,
    )

    capped = (
        f"(SELECT * FROM documents WHERE doc_id < {_RECALL_CAP}) capped"
    )
    return f"""
WITH {md5_sig_ctes_sql(table=capped, num_hashes=EDGE_HASHES, bands=EDGE_BANDS)},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
tk AS (
  SELECT source, doc_id AS id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < {_RECALL_CAP}
),
exact AS (
  SELECT a.id AS id_a, b.id AS id_b,
    (CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) * 1000000)
      // CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS BIGINT)
      AS jaccard_e6
  FROM tk a JOIN tk b ON a.source = b.source AND a.id < b.id
  WHERE (CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) * 1000000)
      // CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS BIGINT)
      >= 200000
),
marked AS (
  SELECT LEAST(e.jaccard_e6 // 100000, 9) AS decile,
    CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS hit
  FROM exact e LEFT JOIN cand c ON e.id_a = c.id_a AND e.id_b = c.id_b
)
SELECT CAST(decile AS BIGINT) AS decile,
  CAST(COUNT(*) AS BIGINT) AS n_exact,
  CAST(SUM(hit) AS BIGINT) AS n_hit,
  CAST(SUM(hit) AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT)
    AS recall_ppm
FROM marked GROUP BY decile ORDER BY decile
"""


register("dedup_lsh_recall", dedup_lsh_recall, _lsh_recall_sql())


# ---------------------------------------------------------------------------
# 13-gram decontamination (GPT-3-style benchmark overlap)
# ---------------------------------------------------------------------------
_DECON_N = 13


def _gram_hashes_sql() -> str:
    """SQL fragment: distinct md5 hashes of the ``_DECON_N``-token
    shingles of ``text``."""
    return (
        f"array_distinct(transform({shingles_sql('text', _DECON_N)},"
        f" s -> {md5_long_sql('s')}))"
    )


def docs_decontaminate_13gram(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination at 13-gram granularity, per source.

    The GPT-3 / PaLM recipe: a training document is contaminated when it
    shares ANY 13-token n-gram with the held-out benchmark set (here:
    every 25th doc stands in for the eval set, as in the token-level
    ``docs_decontaminate``).  13-grams are md5-hashed (no n-gram strings
    cross an exchange) and matched with a semi join against the
    benchmark's distinct hash set.

    Scale: the benchmark n-gram index is eval-set-sized (tiny next to
    the corpus) — AQE broadcasts the semi join; corpus n-grams are a
    map-side projection.  Contrast with the token-level variant, which
    measures vocabulary *overlap ratio*; the 13-gram rule is the
    near-verbatim-leak detector actually used for training-set audits.
    """
    docs = load_table(spark, sf, "documents")
    grams = docs.selectExpr("doc_id", "source", f"explode({_gram_hashes_sql()}) AS h")
    bench = (
        grams.filter(F.col("doc_id") % 25 == 0).select("h").distinct()
    )
    scanned = docs.filter(F.col("doc_id") % 25 != 0).select(
        "doc_id", "source"
    )
    hits = (
        grams.filter(F.col("doc_id") % 25 != 0)
        .join(bench, "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1).cast("long"))
    )
    return (
        scanned.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias(
                "n_contaminated"
            ),
        )
        .withColumn(
            "contaminated_ppm",
            F.expr("n_contaminated * 1000000L div n_docs"),
        )
        .orderBy("source")
    )


DOCS_DECON13_SQL = f"""
WITH tk AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= {_DECON_N} THEN
      list_distinct(list_transform(generate_series(1, len(t) - {_DECON_N - 1}),
        i -> ('0x' || substr(md5(array_to_string(
               list_slice(t, i, i + {_DECON_N - 1}), ' ')), 1, 15))::BIGINT))
    ELSE [('0x' || substr(md5(array_to_string(t, ' ')), 1, 15))::BIGINT]
    END) AS h
  FROM tk
),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 25 = 0),
hits AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (h)
  WHERE s.doc_id % 25 <> 0
)
SELECT d.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
    AS n_contaminated,
  CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
    * 1000000 // CAST(COUNT(*) AS BIGINT) AS contaminated_ppm
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % 25 <> 0
GROUP BY d.source ORDER BY d.source
"""

register(
    "docs_decontaminate_13gram", docs_decontaminate_13gram, DOCS_DECON13_SQL
)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer pruning + product-quantized re-rank
# ---------------------------------------------------------------------------
def emb_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ top-k: the standard billion-scale ANN layout, composed
    from the engine's IVF (coarse quantizer, nprobe pruning) and PQ
    (8×1-byte codes, asymmetric distance) building blocks.

    Per query: probe the 4 nearest of 16 inverted lists (cosine, the
    ``emb_ivf_topk`` convention), then rank ONLY the probed lists'
    vectors by PQ asymmetric distance against the query — raw vectors
    are never touched at query time; candidates are scored from their
    codes and the broadcast codebooks.

    Scale: at 10⁹+ vectors the inverted lists live hive-partitioned on
    disk and queries scan nprobe/C of the
    codes (~1.5 % of a 1.5 TB code table here); the ADC is a pure
    column expression over one element_at per subspace.  Every float
    chain is written in the oracle's left-associative order, so
    distances are IEEE-identical cross-engine.
    """
    from kukur_spark.operators.similarity import (
        as_double_sql,
        ivf_assign,
        probe_nearest_centroids,
    )
    from kukur_spark.io import persist_once
    from kukur_spark.workloads_llm import (
        _PQ_DSUB,
        _PQ_K,
        _PQ_M,
        _pq_codebook_df,
        _pq_encode,
        _pq_sq_fold_sql,
    )

    emb_raw = load_table(spark, sf, "embeddings")
    emb = emb_raw.selectExpr("vec_id", f"{as_double_sql('embedding')} AS v")
    # lazy one-row codebook (no construction-time collect; a degenerate
    # corpus empties the result through the cross joins — see
    # _pq_codebook_df)
    cbdf = persist_once(_pq_codebook_df(emb))
    codes = _pq_encode(emb, cbdf)
    centroids, assignments = ivf_assign(emb_raw, num_centroids=16)
    probes = probe_nearest_centroids(
        emb_raw.filter(F.col("vec_id") < 10), centroids, nprobe=4
    )
    cands = (
        probes.join(assignments.select("vec_id", "centroid_id"), "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qv", F.col("vec_id").alias("neighbor_id"))
    )
    joined = (
        cands.join(codes, "neighbor_id")
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
        " + ".join(
            _pq_sq_fold_sql(f"qsub{s}", f"rec{s}") for s in range(_PQ_M)
        )
    )
    from pyspark.sql import Window

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


def _ivfpq_oracle_sql() -> str:
    """DuckDB oracle for :func:`emb_ivfpq_topk` — the IVF CTE prefix
    (centroids/assignments/probes, identical to ``EMB_IVF_SQL``) feeding
    the PQ encode/ADC CTEs (identical to ``_pq_sql``), joined on the
    probed lists only."""
    from kukur_spark.workloads_llm import _PQ_CODES, _PQ_DSUB, _PQ_K, _PQ_M

    m, dsub = _PQ_M, _PQ_DSUB
    enc_unions = pq_enc_scored_sql(m, dsub)
    code_cols = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN code END) AS code{s}" for s in range(m)
    )
    seed_joins = "\n".join(
        f"JOIN seeds s{s} ON s{s}.vec_id = c.code{s}" for s in range(m)
    )
    adc = " + ".join(
        "(" + " + ".join(
            f"(CAST(p.qv[{s * dsub + d + 1}] AS DOUBLE)"
            f" - CAST(s{s}.embedding[{s * dsub + d + 1}] AS DOUBLE))"
            f" * (CAST(p.qv[{s * dsub + d + 1}] AS DOUBLE)"
            f" - CAST(s{s}.embedding[{s * dsub + d + 1}] AS DOUBLE))"
            for d in range(dsub)
        ) + ")"
        for s in range(m)
    )
    return f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding AS centroid
  FROM embeddings ORDER BY vec_id ASC LIMIT 16
),
assign_scored AS (
  SELECT e.vec_id, c.centroid_id,
    {duck_cos('e.embedding', 'c.centroid')} AS sim
  FROM embeddings e, centroids c
),
assignments AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY sim DESC, centroid_id ASC) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < 10
),
probe_scored AS (
  SELECT query_id, qv, centroid_id,
    {duck_cos('qv', 'centroid')} AS centroid_sim
  FROM q, centroids
),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT query_id, qv, centroid_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY centroid_sim DESC, centroid_id ASC) AS rn
    FROM probe_scored
  ) WHERE rn <= 4
),
seeds AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_PQ_CODES}
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
scored AS (
  SELECT p.query_id, c.neighbor_id, {adc} AS adc
  FROM probes p
  JOIN assignments a ON a.centroid_id = p.centroid_id
  JOIN codes c ON c.neighbor_id = a.vec_id
{seed_joins}
  WHERE p.query_id <> c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, adc,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(adc, 6) AS adc,
  CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_PQ_K} ORDER BY query_id, rank
"""


register("emb_ivfpq_topk", emb_ivfpq_topk, _ivfpq_oracle_sql())


# ---------------------------------------------------------------------------
# Market-basket lift over order line items
# ---------------------------------------------------------------------------
_BASKET_MIN_SUPPORT = 3
_BASKET_TOPK = 20


def parts_basket_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Top part pairs by lift: which parts sell together beyond chance.

    Statistical upgrade of ``orders_market_basket`` (which reports raw
    support counts): for part pairs co-occurring in
    ≥``_BASKET_MIN_SUPPORT`` orders, lift =
    P(a,b) / (P(a)·P(b)) = n_orders·c(ab) / (c(a)·c(b)), reported in
    exact ppm with the co-count as support.

    Scale: the pair generation is a within-order self-join — quadratic
    ONLY in items-per-order (≤7 in this schema, bounded by basket size
    in any retail schema), linear in orders; part marginals are one
    map-side-combinable aggregate; the order total is a broadcast
    singleton; the report tail is a ``bounded_rank`` top-k.
    """
    from kukur_spark.operators.scale import bounded_rank

    # NOTE (round 10): persisting this distinct projection was tried and
    # REVERTED — the pair fan-out dominates the query, the four-branch
    # rebuild is cheap next to it (noop unchanged 1.85→1.86 s at sf0.1),
    # and the extra cache entry pressures the persist FIFO (cap 8)
    # against the far more valuable LSH signature caches.
    items = (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    part_counts = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            on=[
                F.col("a.l_orderkey") == F.col("b.l_orderkey"),
                F.col("a.l_partkey") < F.col("b.l_partkey"),
            ],
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    scored = (
        pairs.join(
            part_counts.select(
                F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a")
            ),
            "part_a",
        )
        .join(
            part_counts.select(
                F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .withColumn(
            "lift_ppm",
            F.expr(
                "div(CAST(support AS DECIMAL(38,0)) * n_orders * 1000000,"
                " CAST(c_a AS DECIMAL(38,0)) * c_b)"
            ).cast("long"),
        )
    )
    return (
        bounded_rank(
            scored,
            [
                F.col("lift_ppm").desc(),
                F.col("part_a").asc(),
                F.col("part_b").asc(),
            ],
            _BASKET_TOPK,
            "rank",
        )
        .select("part_a", "part_b", "support", "lift_ppm", "rank")
        .orderBy("rank")
    )


PARTS_BASKET_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
part_counts AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
  FROM items GROUP BY l_partkey
),
totals AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
    CAST(COUNT(*) AS BIGINT) AS support
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey
    AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
),
scored AS (
  SELECT part_a, part_b, support,
    CAST((CAST(support AS HUGEINT) * t.n_orders * 1000000)
      // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_ppm
  FROM pairs
  JOIN part_counts ca ON ca.l_partkey = pairs.part_a
  JOIN part_counts cb ON cb.l_partkey = pairs.part_b
  CROSS JOIN totals t
)
SELECT part_a, part_b, support, lift_ppm,
  CAST(ROW_NUMBER() OVER (
    ORDER BY lift_ppm DESC, part_a ASC, part_b ASC) AS BIGINT) AS rank
FROM scored
ORDER BY rank LIMIT {_BASKET_TOPK}
"""

register("parts_basket_lift", parts_basket_lift, PARTS_BASKET_SQL)


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (second-order fold)
# ---------------------------------------------------------------------------
def ts_holt_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(series, day) Holt double exponential smoothing + forecasts.

    Two-component recursion with α=β=1/2 over the day's values in
    (ts, value) order:  ℓₜ = (xₜ + ℓ + b) >> 1,  bₜ = (ℓₜ − ℓ + b) >> 1
    (ℓ₀ = x₀, b₀ = 0) — level tracks the series, trend tracks its slope,
    and the h-step forecast is ℓ + h·b.  All state is e6 integers and
    ``>>`` floors identically in both engines, so the recursion is
    bit-exact.

    Scale: the same shape as ``ts_exp_smooth`` one state-component up —
    one hash aggregate (collect_list) per (series, day), the fold carries
    a two-long struct, groups fold independently, no window, no UDF.
    The struct-state fold is the general template for any fixed-order
    recursion (Holt-Winters seasonal adds one array component).
    """
    events = load_table(spark, sf, "events").filter(
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
    grouped = base.groupBy("event_type", "day_us").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_sort(F.collect_list(F.struct("ts_us", "v_e6"))).alias("pts"),
    )
    vals = F.transform(F.col("pts"), lambda p: p.getField("v_e6"))

    def step(acc, x):
        new_level = F.shiftright(
            x + acc.getField("l") + acc.getField("b"), 1
        )
        return F.struct(
            new_level.alias("l"),
            F.shiftright(
                new_level - acc.getField("l") + acc.getField("b"), 1
            ).alias("b"),
        )

    state = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.struct(
            F.element_at(vals, 1).alias("l"),
            F.lit(0).cast("long").alias("b"),
        ),
        step,
    )
    return (
        grouped.select(
            "event_type",
            "day_us",
            F.col("n").cast("long").alias("n"),
            state.getField("l").alias("level_e6"),
            state.getField("b").alias("trend_e6"),
        )
        .withColumn("fcst1_e6", F.col("level_e6") + F.col("trend_e6"))
        .withColumn(
            "fcst3_e6", F.col("level_e6") + F.lit(3) * F.col("trend_e6")
        )
        .orderBy("event_type", "day_us")
    )


TS_HOLT_SQL = """
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
  SELECT event_type, day_us, n, seq, 1 AS i,
    seq[1] AS l, CAST(0 AS BIGINT) AS b
  FROM seqs
  UNION ALL
  SELECT event_type, day_us, n, seq, i + 1,
    (seq[i + 1] + l + b) >> 1,
    (((seq[i + 1] + l + b) >> 1) - l + b) >> 1
  FROM walk WHERE i < len(seq)
)
SELECT event_type, day_us, n,
  l AS level_e6, b AS trend_e6,
  l + b AS fcst1_e6, l + 3 * b AS fcst3_e6
FROM walk WHERE i = len(seq)
ORDER BY event_type, day_us
"""

register("ts_holt_trend", ts_holt_trend, TS_HOLT_SQL)


# ---------------------------------------------------------------------------
# Composed curation funnel: the end-to-end training-data pipeline
# ---------------------------------------------------------------------------
_PACK_LEN_FUNNEL = 256


def docs_curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source yield of the full curation DAG — the second composed
    flagship next to ``docs_rag_query``.

    Stages, in pipeline order, each feeding the next:

    1. **pool** — training docs (benchmark docs, every 25th, excluded);
    2. **blocklist** — drop docs with any ``_BLOCKLIST`` token;
    3. **decontaminate** — drop docs sharing a 13-gram with the
       benchmark set (hashed n-grams, semi join);
    4. **dedup** — md5-LSH near-dup edges over the SURVIVORS, connected
       components, keep canonical (min-id) members;
    5. **pack** — concatenate-and-split accounting: kept tokens and
       ceil(tokens/256) training sequences per source.

    Emits per source: ``n_docs, n_after_blocklist, n_after_decon,
    n_after_dedup, kept_tokens, n_packs`` — the loss report a data lead
    reads before a training run.

    Scale: every stage is the already-audited plan of its standalone
    operator (map-side gates, semi joins against eval-sized indexes,
    banded candidate joins, log-round components); stage composition
    adds joins of per-source aggregates only.  Running dedup AFTER the
    gates is the cheap order — edges are computed over the reduced set,
    and byte-identical survivors are collapsed before banding
    (:func:`kukur_spark.workloads._collapsed_groups_from` — kills the
    family-quadratic candidate term the 100× probe exposed).
    """
    from kukur_spark.workloads import _collapsed_groups_from

    docs = load_table(spark, sf, "documents")
    pool = docs.filter(F.col("doc_id") % 25 != 0)
    blocklist = F.array(*[F.lit(w) for w in _BLOCKLIST])
    s1 = pool.filter(
        F.size(
            F.filter(
                F.split(F.col("text"), " "),
                lambda x: F.array_contains(blocklist, x),
            )
        )
        == 0
    )
    bench = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .selectExpr(f"explode({_gram_hashes_sql()}) AS h")
        .distinct()
    )
    s1_grams = s1.selectExpr("doc_id", f"explode({_gram_hashes_sql()}) AS h")
    contaminated = (
        s1_grams.join(bench, "h", "left_semi").select("doc_id").distinct()
    )
    s2 = s1.join(contaminated, "doc_id", "left_anti")
    groups = _collapsed_groups_from(s2)
    kept = (
        groups.filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id")
        .join(
            s2.select(
                "doc_id",
                "source",
                F.size(F.split(F.col("text"), " "))
                .cast("long")
                .alias("n_tokens"),
            ),
            "doc_id",
        )
    )

    def per_source(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias(name)
        )

    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_after_dedup"),
        F.sum("n_tokens").alias("kept_tokens"),
    )
    return (
        per_source(pool, "n_docs")
        .join(per_source(s1, "n_after_blocklist"), "source", "left")
        .join(per_source(s2, "n_after_decon"), "source", "left")
        .join(kept_agg, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_after_blocklist", F.lit(0)).alias(
                "n_after_blocklist"
            ),
            F.coalesce("n_after_decon", F.lit(0)).alias("n_after_decon"),
            F.coalesce("n_after_dedup", F.lit(0)).alias("n_after_dedup"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
            F.expr(
                f"coalesce((kept_tokens + {_PACK_LEN_FUNNEL - 1})"
                f" div {_PACK_LEN_FUNNEL}, 0)"
            ).alias("n_packs"),
        )
        .orderBy("source")
    )


def _funnel_sql() -> str:
    from kukur_spark.operators.dedup import (
        EDGE_BANDS,
        EDGE_HASHES,
        md5_sig_ctes_sql,
    )

    bl = ", ".join(f"'{w}'" for w in _BLOCKLIST)
    n = _DECON_N
    gram_expr = (
        f"CASE WHEN len(t) >= {n} THEN "
        f"list_distinct(list_transform(generate_series(1, len(t) - {n - 1}),"
        f" i -> ('0x' || substr(md5(array_to_string("
        f"list_slice(t, i, i + {n - 1}), ' ')), 1, 15))::BIGINT)) "
        f"ELSE [('0x' || substr(md5(array_to_string(t, ' ')), 1, 15))::BIGINT]"
        f" END"
    )
    return f"""
WITH RECURSIVE pool AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 25 <> 0
),
s1 AS (
  SELECT doc_id, source, text FROM pool
  WHERE len(list_filter(string_split(text, ' '),
        x -> list_contains([{bl}], x))) = 0
),
bgrams AS (
  SELECT DISTINCT unnest({gram_expr}) AS h
  FROM (SELECT string_split(text, ' ') AS t FROM documents
        WHERE doc_id % 25 = 0)
),
s1grams AS (
  SELECT doc_id, unnest({gram_expr}) AS h
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM s1)
),
contaminated AS (
  SELECT DISTINCT g.doc_id FROM s1grams g JOIN bgrams b USING (h)
),
s2 AS (
  SELECT s1.* FROM s1 LEFT JOIN contaminated c USING (doc_id)
  WHERE c.doc_id IS NULL
),
{md5_sig_ctes_sql(table="s2", num_hashes=EDGE_HASHES, bands=EDGE_BANDS)},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
dtok AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks
  FROM s2
),
pairs AS (
  SELECT id_a, id_b FROM cand
  JOIN dtok ta ON ta.id = cand.id_a
  JOIN dtok tb ON tb.id = cand.id_b
  WHERE (CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) * 1000000)
      // CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS BIGINT)
      >= 200000
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
walk(src, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT w.src, e.dst FROM walk w JOIN edges e ON w.reach = e.src
),
comp AS (SELECT src AS id, MIN(reach) AS component FROM walk GROUP BY src),
kept AS (
  SELECT s2.doc_id, s2.source,
    CAST(len(string_split(s2.text, ' ')) AS BIGINT) AS n_tokens
  FROM s2 LEFT JOIN comp c ON c.id = s2.doc_id
  WHERE s2.doc_id = COALESCE(c.component, s2.doc_id)
),
agg AS (
  SELECT p.source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(COUNT(s1.doc_id) AS BIGINT) AS n_after_blocklist,
    CAST(COUNT(s2.doc_id) AS BIGINT) AS n_after_decon,
    CAST(COUNT(k.doc_id) AS BIGINT) AS n_after_dedup,
    CAST(COALESCE(SUM(k.n_tokens), 0) AS BIGINT) AS kept_tokens
  FROM pool p
  LEFT JOIN s1 ON s1.doc_id = p.doc_id
  LEFT JOIN s2 ON s2.doc_id = p.doc_id
  LEFT JOIN kept k ON k.doc_id = p.doc_id
  GROUP BY p.source
)
SELECT source, n_docs, n_after_blocklist, n_after_decon, n_after_dedup,
  kept_tokens,
  (kept_tokens + {_PACK_LEN_FUNNEL - 1}) // {_PACK_LEN_FUNNEL} AS n_packs
FROM agg ORDER BY source
"""


register("docs_curation_funnel", docs_curation_funnel, _funnel_sql())


# ---------------------------------------------------------------------------
# PageRank over the nation trade graph (iterative graph analytics)
# ---------------------------------------------------------------------------
_PR_ITERS = 5
_PR_DAMP_NUM = 85  # damping 0.85 as an integer percent


def nation_trade_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank importance of nations in the trade-flow graph.

    Graph: supplier nation → customer nation, edge weight = exact
    revenue (decimal-bridged e6 cents of ``extendedprice·(1−discount)``)
    aggregated over every lineitem.  Five damped iterations (d=0.85) in
    pure integer arithmetic: out-shares are precomputed ppb fractions,
    each contribution floors once through a DECIMAL(38,0) division
    (identical to DuckDB's HUGEINT ``//``), and the teleport base is the
    floored constant — so ranks are bit-exact cross-engine.  Dangling
    nations (no outgoing trade) leak their mass, the standard simplified
    treatment; the oracle does the same.

    Scale: the rank vector is node-sized and broadcast into the
    edge-contribution join each round; edges shuffle never (persisted
    once).  For graphs where the rank vector itself is too big to
    broadcast, the same loop runs as keyed joins with the
    ``connected_components`` checkpoint discipline — iteration count is
    fixed (5), not data-dependent.
    """
    from pyspark.sql import Window

    from kukur_spark.io import persist_once
    from kukur_spark.operators.scale import bounded_rank
    from kukur_spark.workloads import dsum

    lineitem = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")

    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flows = (
        lineitem.join(
            F.broadcast(
                supplier.select("s_suppkey", "s_nationkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(dsum(disc_price).alias("w_e6"))
    )
    # out-degree totals as a window sum over the (≤ nations²-row) flow
    # aggregate: the separate groupBy branch re-ran the whole 3-join
    # scan+aggregate subtree a second time before the persist could help
    # (round 10); long sums reassociate exactly — identical shares
    edges = persist_once(
        flows.withColumn(
            "wout_e6", F.sum("w_e6").over(Window.partitionBy("src"))
        )
        .select(
            "src",
            "dst",
            F.expr(
                "div(CAST(w_e6 AS DECIMAL(38,0)) * 1000000000, wout_e6)"
            )
            .cast("long")
            .alias("share_ppb"),
        )
        # nation-pair aggregate: ≤ nations² rows — one partition keeps
        # each of the 5 iteration rounds at a handful of tasks instead
        # of 32 near-empty ones
        .coalesce(1)
    )
    nodes = persist_once(nation.select(F.col("n_nationkey").alias("node")))
    n_nodes = nodes.count()  # node-type cardinality: O(nations), metadata
    if n_nodes == 0:
        # degenerate corpus: schema-stable empty result, not a crash
        return spark.createDataFrame(
            [], "nation string, r_ppb long, rank long"
        )
    r0 = 1_000_000_000 // n_nodes
    base = 15 * 1_000_000_000 // (100 * n_nodes)
    rank_df = nodes.select("node", F.lit(r0).cast("long").alias("r_ppb"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(
                F.broadcast(rank_df),
                edges.src == rank_df.node,
            )
            .select(
                "dst",
                F.expr(
                    f"div(CAST(r_ppb AS DECIMAL(38,0)) * share_ppb"
                    f" * {_PR_DAMP_NUM}, 100000000000)"
                )
                .cast("long")
                .alias("c_ppb"),
            )
            .groupBy("dst")
            .agg(F.sum("c_ppb").alias("in_ppb"))
        )
        rank_df = nodes.join(
            F.broadcast(contrib), nodes.node == contrib.dst, "left"
        ).select(
            "node",
            (F.lit(base) + F.coalesce("in_ppb", F.lit(0)))
            .cast("long")
            .alias("r_ppb"),
        )
    named = rank_df.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("node"), "n_name"
            )
        ),
        "node",
    )
    return (
        bounded_rank(
            named,
            [F.col("r_ppb").desc(), F.col("n_name").asc()],
            25,
            "rank",
        )
        .select(F.col("n_name").alias("nation"), "r_ppb", "rank")
        .orderBy("rank")
    )


def _pagerank_sql() -> str:
    iters = []
    prev = "it0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(f"""
it{i} AS (
  SELECT n.node,
    (SELECT base FROM consts)
    + COALESCE(SUM((CAST(p.r_ppb AS HUGEINT) * e.share_ppb * {_PR_DAMP_NUM})
                   // 100000000000), 0) AS r_ppb
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN {prev} p ON p.node = e.src
  GROUP BY n.node
)""")
        prev = f"it{i}"
    iter_sql = ",".join(iters)
    return f"""
WITH flows AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
    CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount)
        AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS w_e6
  FROM lineitem
  JOIN supplier s ON s.s_suppkey = l_suppkey
  JOIN orders o ON o.o_orderkey = l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY s.s_nationkey, c.c_nationkey
),
out_totals AS (
  SELECT src, CAST(SUM(w_e6) AS BIGINT) AS wout_e6 FROM flows GROUP BY src
),
edges AS (
  SELECT f.src, f.dst,
    CAST((CAST(f.w_e6 AS HUGEINT) * 1000000000) // t.wout_e6 AS BIGINT)
      AS share_ppb
  FROM flows f JOIN out_totals t ON t.src = f.src
),
nodes AS (SELECT n_nationkey AS node FROM nation),
consts AS (
  SELECT CAST(1000000000 // COUNT(*) AS BIGINT) AS r0,
         CAST(15000000000 // (100 * COUNT(*)) AS BIGINT) AS base
  FROM nodes
),
it0 AS (SELECT node, (SELECT r0 FROM consts) AS r_ppb FROM nodes),
{iter_sql},
named AS (
  SELECT n.n_name AS nation, CAST(p.r_ppb AS BIGINT) AS r_ppb
  FROM it{_PR_ITERS} p JOIN nation n ON n.n_nationkey = p.node
)
SELECT nation, r_ppb,
  CAST(ROW_NUMBER() OVER (ORDER BY r_ppb DESC, nation ASC) AS BIGINT)
    AS rank
FROM named ORDER BY rank LIMIT 25
"""


register("nation_trade_pagerank", nation_trade_pagerank, _pagerank_sql())


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling
# ---------------------------------------------------------------------------
_STRAT_TOTAL = 100  # target sample size across all strata


def docs_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified sample with Neyman allocation over source strata.

    The statistically efficient stratified design: stratum h gets
    n_h = floor(total · N_h·S_h / Σ N·S) draws, where S_h is the
    stratum's std of ``n_chars`` — more sample where there is more
    variance.  S_h is computed exactly: the integer variance numerator
    N·Σx² − (Σx)² over the integer ``n_chars`` column, then one
    ``floor(sqrt(·))`` (sqrt is correctly rounded in IEEE, so the floor
    is bit-identical cross-engine).  Within each stratum the draws are
    the md5-smallest doc ids — deterministic, order-free, and the same
    hash recipe as every sampling operator in this repo.

    Scale: stratum moments are one map-side-combinable aggregate; the
    allocation table is strata-sized and broadcast; the per-stratum
    take is a partitioned rank window (per-source state, never a global
    window).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", "n_chars"
    )
    moments = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sxx"),
    )
    # exact integer variance numerator: N·Σx² − (Σx)²  (≥ 0)
    weights = moments.select(
        "source",
        "n_h",
        F.floor(
            F.sqrt(
                (
                    F.col("n_h") * F.col("sxx") - F.col("sx") * F.col("sx")
                ).cast("double")
            )
        )
        .cast("long")
        .alias("w_h"),  # = N_h·S_h exactly: N·Σx²−(Σx)² = N²σ²
    )
    total_w = weights.agg(F.sum("w_h").alias("w_total"))
    alloc = weights.crossJoin(F.broadcast(total_w)).select(
        "source",
        "n_h",
        # all-zero weights (single-row / constant strata): allocate 0
        # rather than divide by zero — the oracle has the same guard
        F.expr(
            "CASE WHEN w_total = 0 THEN 0L ELSE "
            f"div(CAST(w_h AS DECIMAL(38,0)) * {_STRAT_TOTAL}, w_total) "
            "END"
        )
        .cast("long")
        .alias("alloc"),
    )
    key = F.md5(F.concat(F.lit("strat1:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(F.col("skey").asc())
    ranked = (
        docs.withColumn("skey", key)
        .withColumn("draw", F.row_number().over(w).cast("long"))
    )
    return (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("draw") <= F.col("alloc"))
        .select("source", "doc_id", "draw", "alloc")
        .orderBy("source", "draw")
    )


DOCS_STRAT_SQL = f"""
WITH moments AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_h,
    CAST(SUM(n_chars) AS BIGINT) AS sx,
    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
  FROM documents GROUP BY source
),
weights AS (
  SELECT source, n_h,
    CAST(FLOOR(sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE))) AS BIGINT) AS w_h
  FROM moments
),
totals AS (SELECT CAST(SUM(w_h) AS BIGINT) AS w_total FROM weights),
alloc AS (
  SELECT source, n_h,
    CASE WHEN w_total = 0 THEN 0
      ELSE CAST((CAST(w_h AS HUGEINT) * {_STRAT_TOTAL}) // w_total AS BIGINT)
    END AS alloc
  FROM weights CROSS JOIN totals
),
ranked AS (
  SELECT d.source, d.doc_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY d.source
      ORDER BY md5('strat1:' || CAST(d.doc_id AS VARCHAR)) ASC) AS BIGINT)
      AS draw
  FROM documents d
)
SELECT r.source, r.doc_id, r.draw, a.alloc
FROM ranked r JOIN alloc a ON a.source = r.source
WHERE r.draw <= a.alloc
ORDER BY r.source, r.draw
"""

register("docs_stratified_sample", docs_stratified_sample, DOCS_STRAT_SQL)


# ---------------------------------------------------------------------------
# Salted aggregation under the oracle gate
# ---------------------------------------------------------------------------
def events_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type counts/sums computed through the two-phase salted
    aggregate — the skew tool (`operators/scale.py::salted_aggregate`)
    exercised under the differential gate.

    The events table's type column is low-cardinality (every key is a
    hot key at scale); salting spreads each key over 16 sub-keys in the
    map-heavy first shuffle, then merges 16·types partial rows.  The
    result is identical to a plain GROUP BY — which is exactly what the
    oracle runs — and the value sum rides the decimal bridge for
    bit-exactness.
    """
    from kukur_spark.operators.scale import salted_aggregate

    events = load_table(spark, sf, "events").filter(
        F.col("value").isNotNull()
    )
    base = events.select(
        "event_type",
        F.floor(F.col("value").cast("decimal(30,10)") * 1_000_000)
        .cast("long")
        .alias("v_e6"),
    )
    out = salted_aggregate(
        base, ["event_type"], {"v_e6": "sum", "event_type": "count"}
    )
    return out.select(
        "event_type",
        F.col("count_event_type").cast("long").alias("n"),
        F.col("sum_v_e6").cast("long").alias("sum_v_e6"),
    ).orderBy("event_type")


EVENTS_SALTED_SQL = """
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT))
       AS BIGINT) AS sum_v_e6
FROM events WHERE value IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""

register("events_salted_agg", events_salted_agg, EVENTS_SALTED_SQL)


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) over parts
# ---------------------------------------------------------------------------
def parts_skyline(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto-optimal parts: no other part is cheaper AND bigger.

    Skyline on (minimize ``p_retailprice``, maximize ``p_size``): part p
    is dominated iff some part has price ≤ p's and size ≥ p's with at
    least one strict.  Instead of the O(n²) dominance join, the 2-D
    skyline reduces to price-LEVEL running maxima: aggregate max(size)
    per distinct price (cents-exact), prefix-max over the price axis,
    then p is dominated iff prefix_max(price < p) ≥ size or
    level_max(price = p) > size — one aggregate + one window over the
    price-level table + one broadcast-ready join back.

    Scale: the level table is bounded by the price DOMAIN (distinct
    price points), not by row count — the same axis-aggregation trick as
    ``lineitem_weighted_median``; its prefix window is allowlisted in
    the plan audit on that ground.  The parts table itself is touched
    map-side only.
    """
    from pyspark.sql import Window

    parts = load_table(spark, sf, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    levels = parts.groupBy("price_c").agg(
        F.max("size").alias("lvl_max")
    )
    w = Window.orderBy("price_c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    level_tbl = levels.select(
        "price_c",
        "lvl_max",
        F.coalesce(F.max("lvl_max").over(w), F.lit(-1)).alias("prefix_max"),
    )
    return (
        parts.join(F.broadcast(level_tbl), "price_c")
        .filter(
            ~(
                (F.col("prefix_max") >= F.col("size"))
                | (F.col("lvl_max") > F.col("size"))
            )
        )
        .select("p_partkey", "price_c", "size")
        .orderBy("p_partkey")
    )


PARTS_SKYLINE_SQL = """
WITH parts AS (
  SELECT p_partkey,
    CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
    CAST(p_size AS BIGINT) AS size
  FROM part
),
levels AS (
  SELECT price_c, MAX(size) AS lvl_max FROM parts GROUP BY price_c
),
level_tbl AS (
  SELECT price_c, lvl_max,
    COALESCE(MAX(lvl_max) OVER (
      ORDER BY price_c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), -1) AS prefix_max
  FROM levels
)
SELECT p.p_partkey, p.price_c, p.size
FROM parts p JOIN level_tbl l ON l.price_c = p.price_c
WHERE NOT (l.prefix_max >= p.size OR l.lvl_max > p.size)
ORDER BY p.p_partkey
"""

register("parts_skyline", parts_skyline, PARTS_SKYLINE_SQL)


# ---------------------------------------------------------------------------
# Session path trigrams (process-mining lite)
# ---------------------------------------------------------------------------
_PATH_TOPK = 10


def events_path_trigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Top event-type trigrams along session paths.

    Sessions split on the standard 30-minute inactivity gap per user;
    each session contributes its consecutive event-type triples
    ((ts, event_id)-deterministic order), and the report ranks the
    ``_PATH_TOPK`` most frequent "a>b>c" paths — the process-mining
    summary of how flows actually run.

    Scale: sessionization is the audited per-user window; the trigram
    fan-out is a map-side index transform over each session's collected
    path (bounded by session length); counting is one hash aggregate
    and the report tail is a ``bounded_rank`` top-k.
    """
    from pyspark.sql import Window

    from kukur_spark.operators.scale import bounded_rank

    events = load_table(spark, sf, "events").filter(
        F.col("ts").isNotNull()
    )
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
        F.sum(F.when(gap > 30 * 60 * 1_000_000, 1).otherwise(0)).over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = sessed.groupBy("user_id", "session_idx").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts_us", "event_id", "event_type"))
            ),
            lambda s: s.getField("event_type"),
        ).alias("path")
    )
    trigram_expr = (
        "CASE WHEN size(path) >= 3 THEN "
        "transform(sequence(1, size(path) - 2), "
        "i -> concat_ws('>', element_at(path, i), "
        "element_at(path, i + 1), element_at(path, i + 2))) "
        "ELSE array() END"
    )
    counts = (
        paths.select(F.explode(F.expr(trigram_expr)).alias("trigram"))
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        bounded_rank(
            counts,
            [F.col("n").desc(), F.col("trigram").asc()],
            _PATH_TOPK,
            "rank",
        )
        .select("trigram", "n", "rank")
        .orderBy("rank")
    )


EVENTS_PATH_SQL = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
  FROM events WHERE ts IS NOT NULL
),
lagged AS (
  SELECT user_id, ts_us, event_id, event_type,
    CASE WHEN ts_us - LAG(ts_us) OVER (
        PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
      THEN 1 ELSE 0 END AS new_sess
  FROM base
),
sessed AS (
  SELECT user_id, ts_us, event_id, event_type,
    SUM(new_sess) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM lagged
),
paths AS (
  SELECT user_id, session_idx,
    list(event_type ORDER BY ts_us, event_id) AS path
  FROM sessed GROUP BY user_id, session_idx
),
trigrams AS (
  SELECT unnest(
    CASE WHEN len(path) >= 3 THEN
      list_transform(generate_series(1, len(path) - 2),
        i -> path[i] || '>' || path[i + 1] || '>' || path[i + 2])
    ELSE [] END) AS trigram
  FROM paths
),
counts AS (
  SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
  FROM trigrams GROUP BY trigram
)
SELECT trigram, n,
  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, trigram ASC) AS BIGINT) AS rank
FROM counts ORDER BY rank LIMIT {_PATH_TOPK}
"""

register("events_path_trigrams", events_path_trigrams, EVENTS_PATH_SQL)


# ---------------------------------------------------------------------------
# Semantic dedup clusters (embedding-level connected components)
# ---------------------------------------------------------------------------
_SEM_TABLES = 4
_SEM_PLANES = 8  # per table; OR over 4 tables: P(candidate at cos .99) ≈ .99


def _sem_bucket_sql(table: int) -> str:
    """Literal-SQL bucket expression for one LSH table (planes
    ``table·8 … table·8+7``) — plane components inlined as one parsed
    array per plane (the PQ-codebook pattern: per-element F.lit would
    cost thousands of py4j round trips)."""
    from kukur_spark.operators.similarity import plane_components

    terms = []
    for j in range(_SEM_PLANES):
        plane = table * _SEM_PLANES + j
        arr = (
            "array("
            + ", ".join(f"{c!r}D" for c in plane_components(plane, 64))
            + ")"
        )
        proj = (
            f"aggregate(zip_with(v, {arr}, (x, c) -> x * c), 0.0D,"
            " (acc, x) -> acc + x)"
        )
        terms.append(f"IF({proj} > 0.0D, {1 << j}L, 0L)")
    return "(" + " + ".join(terms) + ")"


def emb_semantic_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical vector per semantic near-dup group — bucketed edges.

    Embedding-level dedup one level above the text pipeline (the
    SemDeDup-style stage of modern curation recipes): candidate pairs
    share a random-hyperplane LSH bucket in ANY of 4 tables (8 planes
    each — OR-construction recall ≈ 0.99 at cosine 0.99), survivors
    verify with the exact cosine ≥ 0.99, and the pairs close under the
    same pointer-doubling connected components as the text dedup.  The
    all-pairs enumeration (``emb_neardup_pairs``) stays registered as
    the exact-recall baseline; this operator is the 100 TB shape — the
    10× probe measured 186 s for the quadratic edge source vs ~8 s
    bucketed.

    The 4×64 plane components are md5-derived driver literals, so the
    DuckDB oracle rebuilds identical buckets and the edge set is
    bit-stable cross-engine.
    """
    from kukur_spark.io import persist_once
    from kukur_spark.operators.cluster import dedup_groups
    from kukur_spark.operators.similarity import as_double_sql, dot_sql, norm_sql

    emb = load_table(spark, sf, "embeddings")
    # collapse bit-identical vectors to a min-id representative before
    # hashing — identical vectors share every bucket and verify at
    # cos 1 ≥ 0.99, so families are connected in the naive graph and
    # the re-expanded labels are identical (same proof as
    # workloads.dedup_doc_groups; kills the family-quadratic candidate
    # term the 100× probe exposed on the text twin)
    families = emb.groupBy("embedding").agg(
        F.min("vec_id").alias("rep_id")
    )
    mapping = (
        emb.select("vec_id", "embedding")
        .join(families, "embedding")
        .select("vec_id", "rep_id")
    )
    rep_emb = emb.join(
        families.select(F.col("rep_id").alias("vec_id")), "vec_id", "semi"
    )
    base = persist_once(
        rep_emb.repartition(
            spark.sparkContext.defaultParallelism, F.col("vec_id")
        ).selectExpr(
            "vec_id AS id", f"{as_double_sql('embedding')} AS v"
        ).withColumn("n", F.expr(norm_sql("v")))
    )
    buckets = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.expr(
                        f"struct({t} as tbl, {_sem_bucket_sql(t)} as bucket)"
                    )
                    for t in range(_SEM_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("id", "tb.tbl", "tb.bucket")
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            on=[
                F.col("a.tbl") == F.col("b.tbl"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(
            base.select(
                F.col("id").alias("id_a"),
                F.col("v").alias("va"),
                F.col("n").alias("na"),
            ),
            "id_a",
        )
        .join(
            base.select(
                F.col("id").alias("id_b"),
                F.col("v").alias("vb"),
                F.col("n").alias("nb"),
            ),
            "id_b",
        )
        .withColumn(
            "cos_sim", F.expr(f"{dot_sql('va', 'vb')} / (na * nb)")
        )
        .filter(F.col("cos_sim") >= 0.99)
        .select("id_a", "id_b")
    )
    groups_r = dedup_groups(rep_emb, pairs, id_column="vec_id")
    return (
        mapping.join(
            groups_r.withColumnRenamed("vec_id", "rep_id"), "rep_id"
        )
        .select(
            "vec_id", F.col("canonical_id").alias("canonical_vec")
        )
        .orderBy("vec_id")
    )


def _sem_oracle_sql() -> str:
    from kukur_spark.operators.similarity import plane_components

    def bucket_sql(table: int) -> str:
        terms = []
        for j in range(_SEM_PLANES):
            plane = table * _SEM_PLANES + j
            arr = (
                "["
                + ", ".join(repr(c) for c in plane_components(plane, 64))
                + "]"
            )
            proj = (
                "list_sum(list_transform(range(1, len(v) + 1),"
                f" i -> CAST(v[i] AS DOUBLE) * ({arr})[i]))"
            )
            terms.append(
                f"(CASE WHEN {proj} > 0.0 THEN {1 << j}::BIGINT"
                " ELSE 0::BIGINT END)"
            )
        return "(" + " + ".join(terms) + ")"

    bucket_unions = "\nUNION ALL\n".join(
        f"SELECT id, {t} AS tbl, {bucket_sql(t)} AS bucket FROM base"
        for t in range(_SEM_TABLES)
    )
    return f"""
WITH RECURSIVE base AS (
  SELECT vec_id AS id, embedding AS v,
    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
      AS n
  FROM embeddings
),
buckets AS (
{bucket_unions}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN base ba ON ba.id = c.id_a
  JOIN base bb ON bb.id = c.id_b
  WHERE list_sum(list_transform(range(1, len(ba.v) + 1),
    i -> CAST(ba.v[i] AS DOUBLE) * CAST(bb.v[i] AS DOUBLE)))
    / (ba.n * bb.n) >= 0.99
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
walk(src, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT w.src, e.dst FROM walk w JOIN edges e ON w.reach = e.src
),
comp AS (SELECT src AS id, MIN(reach) AS component FROM walk GROUP BY src)
SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS canonical_vec
FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
ORDER BY e.vec_id
"""


EMB_SEMANTIC_SQL = _sem_oracle_sql()

register("emb_semantic_clusters", emb_semantic_clusters, EMB_SEMANTIC_SQL)


# ---------------------------------------------------------------------------
# MinHash estimator error study
# ---------------------------------------------------------------------------
def minhash_estimate_error(spark: SparkSession, sf: str) -> DataFrame:
    """Signature-only Jaccard estimates vs exact, per similarity decile.

    At 100 TB the first dedup pass scores candidates from SIGNATURES
    alone (16 longs/doc) — exact set intersections only run on the
    survivors.  This eval measures what that buys: for every banding
    candidate pair, the estimator (matching minhash components / 16, in
    ppm) against the exact shingle-set Jaccard, aggregated per exact
    decile with the mean absolute estimation error.  The classic
    MinHash unbiasedness check, as data.

    Scale: candidates come from the banding join (bucket-limited);
    signatures ride the join — 16 longs per side; exact sets join back
    for the ERROR MEASUREMENT only (an eval concern — production skips
    exactly this join).
    """
    from kukur_spark.operators.dedup import (
        EDGE_BANDS,
        EDGE_HASHES,
        _band_candidates,
        _md5_banded,
        _md5_base,
    )
    from kukur_spark.io import persist_once

    docs = load_table(spark, sf, "documents")
    base = persist_once(
        _md5_base(docs, "text", "doc_id", 3, EDGE_HASHES)
    )
    banded = _md5_banded(base, EDGE_BANDS, EDGE_HASHES // EDGE_BANDS)
    cand = _band_candidates(banded, bands=EDGE_BANDS)
    sides = cand.join(
        base.select(
            F.col("id").alias("id_a"),
            F.col("hs").alias("hs_a"),
            F.col("sig").alias("sig_a"),
        ),
        "id_a",
    ).join(
        base.select(
            F.col("id").alias("id_b"),
            F.col("hs").alias("hs_b"),
            F.col("sig").alias("sig_b"),
        ),
        "id_b",
    )
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1L, 0L)),"
        f" 0L, (acc, x) -> acc + x) * 1000000 div {EDGE_HASHES}"
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
    uni = (
        F.size("hs_a").cast("long") + F.size("hs_b").cast("long") - inter
    )
    scored = sides.select(
        est.alias("est_ppm"),
        inter.alias("inter"),
        uni.alias("uni"),
    ).withColumn(
        "exact_ppm", F.expr("inter * 1000000 div uni")
    ).select(
        F.least(F.expr("exact_ppm div 100000"), F.lit(9))
        .cast("long")
        .alias("decile"),
        "est_ppm",
        "exact_ppm",
        F.abs(F.col("est_ppm") - F.col("exact_ppm")).alias("abs_err"),
    )
    return (
        scored.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("sum(est_ppm) div count(1)").alias("mean_est_ppm"),
            F.expr("sum(exact_ppm) div count(1)").alias("mean_exact_ppm"),
            F.expr("sum(abs_err) div count(1)").alias("mean_abs_err_ppm"),
        )
        .orderBy("decile")
    )


def _mh_err_sql() -> str:
    from kukur_spark.operators.dedup import (
        EDGE_BANDS,
        EDGE_HASHES,
        md5_sig_ctes_sql,
    )

    return f"""
WITH {md5_sig_ctes_sql(num_hashes=EDGE_HASHES, bands=EDGE_BANDS)},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
sides AS (
  SELECT c.id_a, c.id_b, sa.hs AS hs_a, sa.sig AS sig_a,
         sb.hs AS hs_b, sb.sig AS sig_b
  FROM cand c
  JOIN sigs sa ON sa.id = c.id_a
  JOIN sigs sb ON sb.id = c.id_b
),
scored AS (
  SELECT
    CAST(list_sum(list_transform(range(1, {EDGE_HASHES} + 1),
      i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS BIGINT)
      * 1000000 // {EDGE_HASHES} AS est_ppm,
    CAST(len(list_intersect(hs_a, hs_b)) AS BIGINT) * 1000000
      // (CAST(len(hs_a) AS BIGINT) + len(hs_b)
          - len(list_intersect(hs_a, hs_b))) AS exact_ppm
  FROM sides
)
SELECT CAST(LEAST(exact_ppm // 100000, 9) AS BIGINT) AS decile,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(est_ppm) AS BIGINT) // COUNT(*) AS mean_est_ppm,
  CAST(SUM(exact_ppm) AS BIGINT) // COUNT(*) AS mean_exact_ppm,
  CAST(SUM(ABS(est_ppm - exact_ppm)) AS BIGINT) // COUNT(*)
    AS mean_abs_err_ppm
FROM scored GROUP BY LEAST(exact_ppm // 100000, 9) ORDER BY decile
"""


register("minhash_estimate_error", minhash_estimate_error, _mh_err_sql())


# ---------------------------------------------------------------------------
# Concentration analytics: Gini and Herfindahl
# ---------------------------------------------------------------------------
def nation_revenue_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of supplier revenue inside each nation.

    Inequality of the revenue distribution across a nation's suppliers:
    G = (2·Σᵢ i·xᵢ) / (n·Σx) − (n+1)/n over the ascending-sorted
    supplier revenues — reported as exact ppm via one integer division
    per nation (numerator and denominator kept integral; revenues are
    decimal-bridged e2 cents).

    Scale: per-supplier revenue is one map-side-combinable aggregate;
    the sorted index is a window KEYED on the nation (per-group state,
    never global); the Gini itself is a second keyed aggregate.
    """
    from pyspark.sql import Window

    lineitem = load_table(spark, sf, "lineitem")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = (
        lineitem.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "s_suppkey")
        .agg(
            F.floor(
                F.sum(disc_price.cast("decimal(30,10)")) * 100
            )
            .cast("long")
            .alias("rev_c"),
        )
    )
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("rev_c").asc(), F.col("s_suppkey").asc()
    )
    ranked = rev.withColumn("i", F.row_number().over(w).cast("long"))
    per_nation = ranked.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev_c").alias("total_c"),
        F.sum(F.col("i") * F.col("rev_c")).alias("weighted_c"),
    )
    # G·1e6 = (2·Σ i·x − (n+1)·Σx) · 1e6 / (n·Σx), floored once
    gini = F.expr(
        "div((2 * CAST(weighted_c AS DECIMAL(38,0))"
        " - (n + 1) * total_c) * 1000000, CAST(n AS DECIMAL(38,0))"
        " * total_c)"
    ).cast("long")
    return (
        per_nation.join(
            F.broadcast(
                load_table(spark, sf, "nation").select(
                    F.col("n_nationkey").alias("s_nationkey"), "n_name"
                )
            ),
            "s_nationkey",
        )
        .select(
            F.col("n_name").alias("nation"),
            "n",
            "total_c",
            gini.alias("gini_ppm"),
        )
        .orderBy("nation")
    )


NATION_GINI_SQL = """
WITH rev AS (
  SELECT s.s_nationkey, s.s_suppkey,
    CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount)
        AS DECIMAL(30,10))) * 100) AS BIGINT) AS rev_c
  FROM lineitem JOIN supplier s ON s.s_suppkey = l_suppkey
  GROUP BY s.s_nationkey, s.s_suppkey
),
ranked AS (
  SELECT s_nationkey, rev_c,
    CAST(ROW_NUMBER() OVER (PARTITION BY s_nationkey
      ORDER BY rev_c ASC, s_suppkey ASC) AS BIGINT) AS i
  FROM rev
),
per_nation AS (
  SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(rev_c) AS BIGINT) AS total_c,
    CAST(SUM(i * rev_c) AS BIGINT) AS weighted_c
  FROM ranked GROUP BY s_nationkey
)
SELECT nt.n_name AS nation, p.n, p.total_c,
  CAST(((2 * CAST(weighted_c AS HUGEINT) - (n + 1) * total_c) * 1000000)
    // (CAST(n AS HUGEINT) * total_c) AS BIGINT) AS gini_ppm
FROM per_nation p JOIN nation nt ON nt.n_nationkey = p.s_nationkey
ORDER BY nation
"""

register("nation_revenue_gini", nation_revenue_gini, NATION_GINI_SQL)


def parts_brand_hhi(spark: SparkSession, sf: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of brand revenue per part type.

    HHI = Σ (share of brand in the type's revenue)², share in ppm —
    the antitrust-style concentration screen, here over the part
    catalog's revenue by (type, brand).  Shares floor once to ppm
    integers and the HHI sums their squares (exact ÷1e6 at the end),
    so the statistic is integer-deterministic.

    Scale: two map-side-combinable aggregates (brand revenue, type
    totals) and one broadcast-sized join — no window anywhere.
    """
    lineitem = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    brand_rev = (
        lineitem.join(
            # p_type IS NOT NULL: the former totals-agg inner join on
            # p_type (and the DuckDB oracle's JOIN) silently dropped
            # NULL-typed parts; the window rewrite below would keep them
            # as an extra group.  TPC-H p_type is NOT NULL so this is
            # free, but it pins oracle equivalence for any data.
            F.broadcast(
                part.select("p_partkey", "p_type", "p_brand").where(
                    F.col("p_type").isNotNull()
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_type", "p_brand")
        .agg(
            F.floor(F.sum(disc_price.cast("decimal(30,10)")) * 100)
            .cast("long")
            .alias("rev_c"),
        )
    )
    # type totals as window sums over the (type, brand) aggregate — the
    # former totals-agg-joined-back shape executed the lineitem⋈part
    # revenue subtree twice (pruned branches, no ReuseExchange).  The
    # window's partitions are brands-per-type, bounded by the part
    # catalog (≤ dozens of rows) at any data scale.
    shares = brand_rev.select(
        "p_type",
        F.expr("count(*) OVER (PARTITION BY p_type)")
        .cast("long")
        .alias("n_brands"),
        F.expr(
            "div(CAST(rev_c AS DECIMAL(38,0)) * 1000000, "
            "sum(rev_c) OVER (PARTITION BY p_type))"
        )
        .cast("long")
        .alias("share_ppm"),
    )
    return (
        shares.groupBy("p_type", "n_brands")
        .agg(
            F.expr(
                "CAST(div(sum(share_ppm * share_ppm), 1000000) AS BIGINT)"
            ).alias("hhi_ppm")
        )
        .select("p_type", "n_brands", "hhi_ppm")
        .orderBy("p_type")
    )


PARTS_HHI_SQL = """
WITH brand_rev AS (
  SELECT p.p_type, p.p_brand,
    CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount)
        AS DECIMAL(30,10))) * 100) AS BIGINT) AS rev_c
  FROM lineitem JOIN part p ON p.p_partkey = l_partkey
  GROUP BY p.p_type, p.p_brand
),
totals AS (
  SELECT p_type, CAST(SUM(rev_c) AS BIGINT) AS total_c,
    CAST(COUNT(*) AS BIGINT) AS n_brands
  FROM brand_rev GROUP BY p_type
),
shares AS (
  SELECT b.p_type, t.n_brands,
    CAST((CAST(b.rev_c AS HUGEINT) * 1000000) // t.total_c AS BIGINT)
      AS share_ppm
  FROM brand_rev b JOIN totals t ON t.p_type = b.p_type
)
SELECT p_type, n_brands,
  CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm
FROM shares GROUP BY p_type, n_brands ORDER BY p_type
"""

register("parts_brand_hhi", parts_brand_hhi, PARTS_HHI_SQL)

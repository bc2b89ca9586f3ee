"""Round-4 batch: sequence-similarity showpieces + content-defined chunking.

Two sequence operators whose textbook forms are nested sequential
recursions, expressed as pure JVM expression trees (no UDFs, no driver
loops), plus the rsync/LBFS-family chunker:

- ``ts_dtw_banded`` — Sakoe-Chiba banded Dynamic Time Warping distance
  between every pair of series, on a fixed-length PAA grid.  The DP
  table is a *nested* ``F.aggregate`` fold (outer over rows, inner over
  cells), so one pair costs O(P²) inside whole-stage codegen and pairs
  parallelize freely.  DTW is the classic elastic similarity measure
  Spark has no operator for (reference has nothing comparable either —
  beyond-reference surface like the rest of the workload registry).
- ``ts_haar_energy`` — unnormalized Haar wavelet energy per decomposition
  level.  After one keyed PAA aggregate the whole log₂(P)-level pyramid
  is computed *inside the row* with chained ``transform`` /
  ``aggregate`` — zero extra exchanges.
- ``docs_cdc_chunks`` — content-defined chunking (Rabin breakpoints) and
  chunk-level dedup accounting, the shift-resistant sub-document dedup
  primitive.

Scale shape: both reduce each series to a P-point PAA sketch first
(one keyed aggregate over the raw points — the only data-sized shuffle),
so pair cost is O(P²) regardless of input rows.  The pair join is
bounded by an explicit series-catalog limit (the documented convention
for catalog-sized sides, audited by tests/test_plan_audit.py).

Exactness: timestamps ride epoch-µs longs, values the decimal→integer
bridge (e6 for DTW costs, e3 for Haar so squared details stay far from
BIGINT range).  Segment assignment, averaging (``div``), |diff|, min,
add, and squaring are all integer ops with identical semantics in Spark
and DuckDB; the oracles replay the same recursions with recursive CTEs
(never ``list_reduce`` — broken in DuckDB 1.0.0, see workloads_r7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table, persist_once
from kukur_spark.oracle_sql import duck_cos
from kukur_spark.registry import register


# PAA grid length (DTW) — small fixed sketch; production would size this
# per use case, the plan shape is P-independent.
_DTW_P = 24
_DTW_BAND = 4
_DTW_INF = 10**15
# Haar grid length (power of two) and pyramid depth
_HAAR_P = 32
_HAAR_LEVELS = 5
# catalog bound for the pair join (documented limit-bound, audit-visible)
_MAX_SERIES = 4096
# the two sources compared by the drift family (KS, Q-Q)
_KS_SRC_A = "src0"
_KS_SRC_B = "src1"


def _paa_sequences(
    spark: SparkSession, sf: str, segments: int, scale: int
) -> DataFrame:
    """(event_type, vals) — per-series dense PAA sketch of ``segments``
    integer segment means at ``scale`` decimal digits.

    One keyed aggregate over events (the only data-sized shuffle), then a
    singleton min/max broadcast for the grid; empty segments read 0 via a
    per-row map lookup (no grid cross join in the Spark plan).
    """
    events = load_table(spark, sf, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    base = events.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value").cast("decimal(30,10)") * scale)
        .cast("long")
        .alias("v_q"),
    )
    bounds = base.agg(
        F.min("ts_us").alias("gmin"), F.max("ts_us").alias("gmax")
    )
    seg = F.expr(f"(ts_us - gmin) * {segments} div (gmax - gmin + 1)")
    segavg = (
        base.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", seg.alias("seg"))
        .agg(
            F.sum("v_q").alias("sum_q"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "event_type", "seg", F.expr("sum_q div cnt").alias("avg_q")
        )
    )
    return segavg.groupBy("event_type").agg(
        F.map_from_entries(
            F.collect_list(F.struct("seg", "avg_q"))
        ).alias("m")
    ).select(
        "event_type",
        F.transform(
            F.sequence(F.lit(0), F.lit(segments - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("m"), i), F.lit(0).cast("long")
            ),
        ).alias("vals"),
    )


def _paa_oracle_cte(segments: int, scale: int) -> str:
    """Shared oracle CTE producing (event_type, vals) like
    :func:`_paa_sequences` (dense via a grid join — same values, the
    audit-free SQL shape)."""
    return f"""
base AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
    CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * {scale}) AS BIGINT) AS v_q
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
bounds AS (SELECT MIN(ts_us) AS gmin, MAX(ts_us) AS gmax FROM base),
segavg AS (
  SELECT event_type,
    (ts_us - gmin) * {segments} // (gmax - gmin + 1) AS seg,
    SUM(v_q) // COUNT(*) AS avg_q
  FROM base, bounds GROUP BY 1, 2
),
grid AS (
  SELECT s.event_type, g.seg
  FROM (SELECT DISTINCT event_type FROM base) s,
       (SELECT UNNEST(range(0, {segments})) AS seg) g
),
seqs AS (
  SELECT grid.event_type,
    list(COALESCE(segavg.avg_q, 0) ORDER BY grid.seg) AS vals
  FROM grid LEFT JOIN segavg
    ON grid.event_type = segavg.event_type AND grid.seg = segavg.seg
  GROUP BY grid.event_type
)"""


# ---------------------------------------------------------------------------
# Banded DTW between every series pair
# ---------------------------------------------------------------------------
def dtw_fold(
    va, vb, p: int, band: int = _DTW_BAND, inf_value: int = _DTW_INF
):
    """Banded-DTW distance of two length-``p`` long arrays as ONE column
    expression (the nested fold) — reusable and property-testable.

    DP recurrence d[i][j] = |a_i - b_j| + min(d[i-1][j], d[i][j-1],
    d[i-1][j-1]), cells outside the band pinned to INF: the outer
    ``aggregate`` walks rows carrying the previous DP row (p+1 longs,
    the j=0 column included), the inner ``aggregate`` builds each row
    left-to-right (the d[i][j-1] dependency).  All integer; INF +
    max-cost stays far below 2⁶³.
    """
    va = F.col(va) if isinstance(va, str) else va
    vb = F.col(vb) if isinstance(vb, str) else vb
    inf = F.lit(inf_value).cast("long")

    def dp_row(prev, i):
        # build row i: cur[1] = d[i][0] = INF, then append cells 1..p
        def cell(cur, j):
            in_band = F.abs(i - j) <= F.lit(band)
            cost = F.abs(
                F.element_at(va, i.cast("int"))
                - F.element_at(vb, j.cast("int"))
            )
            best = F.least(
                F.element_at(prev, (j + 1).cast("int")),  # d[i-1][j]
                F.element_at(prev, j.cast("int")),        # d[i-1][j-1]
                F.element_at(cur, j.cast("int")),         # d[i][j-1]
            )
            val = F.when(in_band, F.least(cost + best, inf)).otherwise(inf)
            return F.concat(cur, F.array(val))

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(p)), F.array(inf), cell
        )

    # prev row for i=1: d[0][0] = 0, d[0][j] = INF
    init = F.concat(
        F.array(F.lit(0).cast("long")),
        F.array_repeat(inf, p),
    )
    final_row = F.aggregate(F.sequence(F.lit(1), F.lit(p)), init, dp_row)
    return F.element_at(final_row, p + 1)


def ts_dtw_banded(spark: SparkSession, sf: str) -> DataFrame:
    """Sakoe-Chiba banded DTW distance for every series pair.

    See :func:`dtw_fold` for the DP-as-nested-fold mechanics.
    """
    seqs = _paa_sequences(spark, sf, _DTW_P, 1_000_000).limit(_MAX_SERIES)
    a = seqs.select(
        F.col("event_type").alias("series_a"), F.col("vals").alias("va")
    )
    b = seqs.select(
        F.col("event_type").alias("series_b"), F.col("vals").alias("vb")
    )
    # non-equi pair join: broadcast one catalog-bounded side so the plan
    # is BroadcastNestedLoopJoin, never a CartesianProduct
    pairs = a.join(F.broadcast(b), F.col("series_a") < F.col("series_b"))
    return (
        pairs.select(
            "series_a",
            "series_b",
            dtw_fold("va", "vb", _DTW_P).alias("dtw_e6"),
        )
        .orderBy("series_a", "series_b")
    )


TS_DTW_SQL = f"""
WITH RECURSIVE {_paa_oracle_cte(_DTW_P, 1_000_000)},
pairs AS (
  SELECT a.event_type AS series_a, b.event_type AS series_b,
         a.vals AS va, b.vals AS vb
  FROM seqs a JOIN seqs b ON a.event_type < b.event_type
),
-- one DP cell per step, row-major; prev = row i-1 (j=0..P), cur = row i
-- prefix (starts [INF] = the j=0 column); at j=P the row rolls over.
walk AS (
  SELECT series_a, series_b, va, vb, 0 AS t,
    [0] || [{_DTW_INF} for x in range(0, {_DTW_P})] AS prev,
    [CAST({_DTW_INF} AS BIGINT)] AS cur
  FROM pairs
  UNION ALL
  SELECT series_a, series_b, va, vb, t + 1,
    CASE WHEN (t % {_DTW_P}) + 1 = {_DTW_P} THEN cur || [cell] ELSE prev END,
    CASE WHEN (t % {_DTW_P}) + 1 = {_DTW_P}
         THEN [CAST({_DTW_INF} AS BIGINT)] ELSE cur || [cell] END
  FROM (
    SELECT *,
      (t // {_DTW_P}) + 1 AS i, (t % {_DTW_P}) + 1 AS j,
      CASE WHEN abs((t // {_DTW_P}) + 1 - ((t % {_DTW_P}) + 1)) > {_DTW_BAND}
           THEN {_DTW_INF}
           ELSE least(
             abs(va[(t // {_DTW_P}) + 1] - vb[(t % {_DTW_P}) + 1]) + least(
               prev[(t % {_DTW_P}) + 1 + 1],
               prev[(t % {_DTW_P}) + 1],
               cur[(t % {_DTW_P}) + 1]),
             {_DTW_INF})
      END AS cell
    FROM walk WHERE t < {_DTW_P} * {_DTW_P}
  )
)
SELECT series_a, series_b, prev[{_DTW_P} + 1] AS dtw_e6
FROM walk WHERE t = {_DTW_P} * {_DTW_P}
ORDER BY series_a, series_b
"""


# ---------------------------------------------------------------------------
# Haar wavelet energy pyramid
# ---------------------------------------------------------------------------
def ts_haar_energy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series unnormalized Haar detail energy at each of 5 levels.

    Level l halves the level-(l-1) approximation: approx = s[2k-1]+s[2k],
    detail = s[2k-1]-s[2k], energy_l = Σ detail².  e3 quantization keeps
    the top-level squares ≤ ~10¹⁵.  Everything after the PAA aggregate is
    row-local array math — the plan has exactly the PAA shuffle.
    """
    seqs = _paa_sequences(spark, sf, _HAAR_P, 1_000)
    df = seqs.withColumn("a0", F.col("vals"))
    out_cols = [F.col("event_type")]
    for level in range(1, _HAAR_LEVELS + 1):
        half = _HAAR_P >> level
        prev = F.col(f"a{level - 1}")
        idx = F.sequence(F.lit(1), F.lit(half))
        approx = F.transform(
            idx,
            lambda k: F.element_at(prev, (2 * k - 1).cast("int"))
            + F.element_at(prev, (2 * k).cast("int")),
        )
        def _sq(k):
            d = F.element_at(prev, (2 * k - 1).cast("int")) - F.element_at(
                prev, (2 * k).cast("int")
            )
            return d * d

        detail_sq = F.transform(idx, _sq)
        df = df.withColumn(f"a{level}", approx)
        df = df.withColumn(
            f"energy_l{level}",
            F.aggregate(
                detail_sq, F.lit(0).cast("long"), lambda acc, x: acc + x
            ),
        )
        out_cols.append(F.col(f"energy_l{level}"))
    out_cols.append(
        F.element_at(F.col(f"a{_HAAR_LEVELS}"), 1).alias("approx_sum_e3")
    )
    return df.select(*out_cols).orderBy("event_type")


def _haar_level_sql(level: int) -> str:
    half = _HAAR_P >> level
    prev = f"a{level - 1}"
    return f"""
l{level} AS (
  SELECT *,
    [{prev}[2 * k - 1] + {prev}[2 * k] for k in range(1, {half} + 1)]
      AS a{level},
    list_aggregate(
      [({prev}[2 * k - 1] - {prev}[2 * k]) * ({prev}[2 * k - 1] - {prev}[2 * k])
       for k in range(1, {half} + 1)], 'sum') AS energy_l{level}
  FROM l{level - 1}
)"""


TS_HAAR_SQL = (
    f"WITH {_paa_oracle_cte(_HAAR_P, 1_000)},\nl0 AS (SELECT event_type,"
    " vals AS a0 FROM seqs),"
    + ",".join(_haar_level_sql(level) for level in range(1, _HAAR_LEVELS + 1))
    + f"""
SELECT event_type,
  {', '.join(f'CAST(energy_l{level} AS BIGINT) AS energy_l{level}'
             for level in range(1, _HAAR_LEVELS + 1))},
  CAST(a{_HAAR_LEVELS}[1] AS BIGINT) AS approx_sum_e3
FROM l{_HAAR_LEVELS}
ORDER BY event_type
"""
)


# ---------------------------------------------------------------------------
# Content-defined chunking (Rabin-style breakpoints) + chunk-level dedup
# ---------------------------------------------------------------------------
_CDC_WINDOW = 16


def docs_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source chunk-level dedup report over content-defined chunks.

    Breakpoints are *content-defined* (rsync/LBFS/FastCDC family): a cut
    before position p whenever the 16-char window hash at p satisfies the
    boundary criterion (first md5 nibble '0', expected chunk ≈16 chars on
    this corpus).  Insertions/deletions only move boundaries locally, so
    shared runs between near-duplicate documents still produce identical
    chunks — the property fixed-stride chunking (``docs_chunks``,
    ``docs_boilerplate_chunks``) lacks.  FastCDC's min/max chunk bounds
    would make the cut sequence a sequential recursion; this is the
    stateless Rabin form, which is embarrassingly parallel per document.

    Plan: breakpoint detection and chunking are row-local array
    expressions (one Generate, no Python); the dup accounting is one
    hash-keyed aggregate plus one skinny join (hash, len, source).
    """
    from kukur_spark.operators.chunking import cdc_chunk_rows

    chunked = cdc_chunk_rows(
        load_table(spark, sf, "documents"), window=_CDC_WINDOW
    )
    # ONE chunking pass: pre-aggregate to (h, source) grain, then a
    # vocabulary-sized window supplies the global occurrence count.  The
    # former chunked⋈counts self-join evaluated the md5-window chunking
    # subtree twice (no ReuseExchange across the agg/join shapes) —
    # measured 6.2 s → 3.2 s at sf0.1, and at scale the first exchange
    # now carries (h, source) partial aggregates instead of every chunk
    # row.  Integer sums reassociate exactly: results are identical.
    per_hs = chunked.groupBy("h", "source").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("chunk_len").alias("bytes"),
    )
    occ = per_hs.withColumn(
        "occ", F.sum("cnt").over(Window.partitionBy("h"))
    )
    return (
        occ.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_chunks"),
            F.sum(F.when(F.col("occ") > 1, F.col("cnt")).otherwise(0)).alias(
                "n_dup_occurrences"
            ),
            F.sum("bytes").alias("total_bytes"),
            F.sum(
                F.when(F.col("occ") > 1, F.col("bytes")).otherwise(0)
            ).alias("dup_bytes"),
        )
        .select(
            "source",
            "n_chunks",
            "n_dup_occurrences",
            "total_bytes",
            "dup_bytes",
            F.expr("dup_bytes * 1000000L div total_bytes").alias("dup_ppm"),
        )
        .orderBy("source")
    )


DOCS_CDC_SQL = f"""
WITH docs0 AS (
  SELECT doc_id, source, text, length(text) AS n
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
marks AS (
  SELECT doc_id, source, text, n,
    [1] || [p for p in range(2, greatest(n - {_CDC_WINDOW - 1}, 1) + 1)
            if substring(md5(substring(text, p, {_CDC_WINDOW})), 1, 1) = '0']
      AS starts
  FROM docs0
),
withbounds AS (
  SELECT *, starts || [n + 1] AS bounds FROM marks
),
chunked AS (
  SELECT doc_id, source,
    md5(substring(text, starts[i], bounds[i + 1] - starts[i])) AS h,
    CAST(bounds[i + 1] - starts[i] AS BIGINT) AS chunk_len
  FROM withbounds, UNNEST(range(1, len(starts) + 1)) AS t(i)
),
counts AS (SELECT h, COUNT(*) AS occ FROM chunked GROUP BY h)
SELECT source,
  COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_occurrences,
  CAST(SUM(chunk_len) AS BIGINT) AS total_bytes,
  CAST(SUM(CASE WHEN occ > 1 THEN chunk_len ELSE 0 END) AS BIGINT)
    AS dup_bytes,
  CAST(SUM(CASE WHEN occ > 1 THEN chunk_len ELSE 0 END) * 1000000
    // SUM(chunk_len) AS BIGINT) AS dup_ppm
FROM chunked JOIN counts USING (h)
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# FastCDC-style min-bounded chunking: the greedy sequential variant
# ---------------------------------------------------------------------------
_CDC_MIN_LEN = 24


def docs_fastcdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Chunk-dedup report with FastCDC's minimum chunk bound.

    Plain Rabin cutting (``docs_cdc_chunks``) produces a geometric chunk
    size distribution with a heavy head of tiny chunks; FastCDC's fix is
    to skip any candidate cut closer than ``min_len`` to the previously
    *accepted* cut — which makes the cut sequence a greedy sequential
    recursion.  Expressed as an ``F.aggregate`` fold over the candidate
    positions (carry = accepted starts so far, ``element_at(acc, -1)``
    the last accepted cut) — row-local, no extra exchange vs the
    stateless form; the oracle replays the same greedy walk with a
    recursive CTE.
    """
    from kukur_spark.operators.chunking import cdc_chunk_rows

    chunked = cdc_chunk_rows(
        load_table(spark, sf, "documents"),
        window=_CDC_WINDOW,
        min_len=_CDC_MIN_LEN,
    )
    # same one-pass restructure as docs_cdc_chunks (see there): the
    # greedy-fold chunking subtree is the expensive part and was
    # evaluated twice through the chunked⋈counts self-join
    per_hs = chunked.groupBy("h", "source").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("chunk_len").alias("bytes"),
        F.min("chunk_len").alias("min_len"),
    )
    occ = per_hs.withColumn(
        "occ", F.sum("cnt").over(Window.partitionBy("h"))
    )
    return (
        occ.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_chunks"),
            F.sum(F.when(F.col("occ") > 1, F.col("cnt")).otherwise(0)).alias(
                "n_dup_occurrences"
            ),
            F.sum("bytes").alias("total_bytes"),
            F.sum(
                F.when(F.col("occ") > 1, F.col("bytes")).otherwise(0)
            ).alias("dup_bytes"),
            F.min("min_len").alias("min_chunk_len"),
        )
        .select(
            "source",
            "n_chunks",
            "n_dup_occurrences",
            "total_bytes",
            "dup_bytes",
            "min_chunk_len",
            F.expr("dup_bytes * 1000000L div total_bytes").alias("dup_ppm"),
        )
        .orderBy("source")
    )


DOCS_FASTCDC_SQL = f"""
WITH RECURSIVE docs0 AS (
  SELECT doc_id, source, text, length(text) AS n
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
cands AS (
  SELECT doc_id, source, text, n,
    [p for p in range(2, greatest(n - {_CDC_WINDOW - 1}, 1) + 1)
     if substring(md5(substring(text, p, {_CDC_WINDOW})), 1, 1) = '0']
      AS cand
  FROM docs0
),
-- greedy min-bound walk: accept cand[i] only if ≥ MIN past the last
-- accepted cut
walk AS (
  SELECT doc_id, source, text, n, cand, 0 AS i, [1] AS starts FROM cands
  UNION ALL
  SELECT doc_id, source, text, n, cand, i + 1,
    CASE WHEN cand[i + 1] - starts[len(starts)] >= {_CDC_MIN_LEN}
         THEN starts || [cand[i + 1]] ELSE starts END
  FROM walk WHERE i < len(cand)
),
marked AS (
  SELECT doc_id, source, text, n, starts, starts || [n + 1] AS bounds
  FROM walk WHERE i = len(cand)
),
chunked AS (
  SELECT doc_id, source,
    md5(substring(text, starts[i], bounds[i + 1] - starts[i])) AS h,
    CAST(bounds[i + 1] - starts[i] AS BIGINT) AS chunk_len
  FROM marked, UNNEST(range(1, len(starts) + 1)) AS t(i)
),
counts AS (SELECT h, COUNT(*) AS occ FROM chunked GROUP BY h)
SELECT source,
  COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_occurrences,
  CAST(SUM(chunk_len) AS BIGINT) AS total_bytes,
  CAST(SUM(CASE WHEN occ > 1 THEN chunk_len ELSE 0 END) AS BIGINT)
    AS dup_bytes,
  MIN(chunk_len) AS min_chunk_len,
  CAST(SUM(CASE WHEN occ > 1 THEN chunk_len ELSE 0 END) * 1000000
    // SUM(chunk_len) AS BIGINT) AS dup_ppm
FROM chunked JOIN counts USING (h)
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Matryoshka truncated-dimension retrieval eval
# ---------------------------------------------------------------------------
_MRL_DIMS = (8, 16, 32)
_MRL_K = 5
_MRL_NQ = 10


def emb_matryoshka_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k overlap of truncated-dimension cosine retrieval vs full-dim.

    The Matryoshka question: how much of the exact top-k survives if we
    keep only the first d components of each embedding (d = 8/16/32 of
    64)?  Per (dim, query): hits = |topk_d ∩ topk_full|.  The engine
    evaluating its own representation-truncation tradeoff — the cheap
    first-pass retrieval at 100 TB runs on a prefix slice (¼ the bytes,
    ¼ the FLOPs), with this eval quantifying what re-ranking must
    recover.  Reuses the broadcast-query brute-force machinery; all
    ranking is IEEE-identical cross-engine, hits are exact integers.
    """
    from kukur_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < _MRL_NQ)
    full_set = brute_force_topk(queries, emb, k=_MRL_K).select(
        "query_id", "neighbor_id", F.lit(1).alias("in_full")
    )

    per_dim = []
    for d in _MRL_DIMS:
        emb_d = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        queries_d = emb_d.filter(F.col("vec_id") < _MRL_NQ)
        per_dim.append(
            brute_force_topk(queries_d, emb_d, k=_MRL_K).select(
                F.lit(d).cast("long").alias("dim"),
                "query_id",
                "neighbor_id",
            )
        )
    truncated = per_dim[0]
    for frame in per_dim[1:]:
        truncated = truncated.unionByName(frame)
    return (
        truncated.join(
            F.broadcast(full_set), ["query_id", "neighbor_id"], "left"
        )
        .groupBy("dim", "query_id")
        .agg(
            F.sum(F.coalesce(F.col("in_full"), F.lit(0))).alias("hits"),
        )
        .select(
            "dim",
            "query_id",
            "hits",
            F.expr(f"hits * 1000000L div {_MRL_K}").alias("recall_ppm"),
        )
        .orderBy("dim", "query_id")
    )


def _mrl_topk_sql(d) -> str:
    """Ranked top-k subquery over the first ``d`` components ('full' =
    all 64)."""
    sl = "" if d == "full" else f"[1:{d}]"
    qv, cv = f"q.embedding{sl}", f"c.embedding{sl}"
    return f"""
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        {duck_cos(qv, cv)} DESC, c.vec_id ASC) AS rank
    FROM embeddings c, embeddings q
    WHERE q.vec_id < {_MRL_NQ} AND q.vec_id <> c.vec_id
  ) WHERE rank <= {_MRL_K}
"""


EMB_MRL_SQL = (
    "WITH full_set AS ("
    + _mrl_topk_sql("full")
    + "),\ntruncated AS ("
    + "\nUNION ALL\n".join(
        f"SELECT CAST({d} AS BIGINT) AS dim, query_id, neighbor_id FROM ("
        + _mrl_topk_sql(d)
        + ")"
        for d in _MRL_DIMS
    )
    + f""")
SELECT t.dim, t.query_id,
  CAST(SUM(CASE WHEN f.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS hits,
  CAST(SUM(CASE WHEN f.query_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
    // {_MRL_K} AS BIGINT) AS recall_ppm
FROM truncated t
LEFT JOIN full_set f
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY t.dim, t.query_id
ORDER BY t.dim, t.query_id
"""
)


# ---------------------------------------------------------------------------
# Theil-Sen robust trend vs OLS (sketch-first)
# ---------------------------------------------------------------------------
_TS_P = 24
# positive-offset constant: integer division of a NEGATIVE numerator
# truncates toward zero in Spark's `div` but floors in DuckDB's `//`; a
# +C*dx offset keeps every numerator positive (slopes here are bounded
# by the e6 value range), where the two semantics agree, then C*1e6 is
# subtracted back — exact.
_TS_OFFSET = 10**9


def ts_theilsen_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series Theil-Sen (median-of-pairwise-slopes) trend vs OLS.

    The robust-statistics twin of ``ts_linreg_trend``: a single outlier
    segment drags OLS but not the slope median.  Sketch-first — slopes
    are computed over the P-point PAA means, so the pair set is P(P-1)/2
    per series regardless of input rows, built by a nested ``transform``
    and reduced row-locally (sort + lower median).  Both slopes ship in
    e6 value-units per segment; integer-exact via the positive-offset
    division trick (see ``_TS_OFFSET``).
    """
    p, c = _TS_P, _TS_OFFSET
    seqs = _paa_sequences(spark, sf, p, 1_000_000)
    slope_expr = F.expr(
        f"""
flatten(transform(sequence(1, {p - 1}), i ->
  transform(sequence(i + 1, {p}), j ->
    (element_at(vals, j) - element_at(vals, i) + {c}L * (j - i))
      * 1000000L div (j - i) - {c}L * 1000000L)))
"""
    )
    n_pairs = p * (p - 1) // 2
    sums = F.expr(
        f"""
named_struct(
  'sx', aggregate(sequence(1, {p}), 0L, (a, x) -> a + x),
  'sxx', aggregate(sequence(1, {p}), 0L, (a, x) -> a + x * x),
  'sy', aggregate(vals, 0L, (a, v) -> a + v),
  'sxy', aggregate(zip_with(sequence(1, {p}), vals,
                   (x, v) -> CAST(x AS BIGINT) * v), 0L, (a, t) -> a + t))
"""
    )
    return (
        seqs.select(
            "event_type",
            F.array_sort(slope_expr).alias("slopes"),
            sums.alias("s"),
        )
        .select(
            "event_type",
            F.lit(n_pairs).cast("long").alias("n_pairs"),
            F.element_at("slopes", (n_pairs + 1) // 2).alias(
                "theilsen_slope_e6"
            ),
            F.expr(
                f"""
(({p}L * s.sxy - s.sx * s.sy
   + {c}L * ({p}L * s.sxx - s.sx * s.sx))
 div ({p}L * s.sxx - s.sx * s.sx)) - {c}L
"""
            ).alias("ols_slope_e6"),
        )
        .orderBy("event_type")
    )


TS_THEILSEN_SQL = f"""
WITH {_paa_oracle_cte(_TS_P, 1_000_000)},
pairs AS (
  SELECT event_type, vals,
    (vals[j] - vals[i] + CAST({_TS_OFFSET} AS BIGINT) * (j - i)) * 1000000
      // (j - i) - CAST({_TS_OFFSET} AS BIGINT) * 1000000 AS slope
  FROM seqs,
    UNNEST(range(1, {_TS_P} + 1)) AS t1(i),
    UNNEST(range(1, {_TS_P} + 1)) AS t2(j)
  WHERE j > i
),
med AS (
  SELECT event_type, slope,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM pairs
),
ols AS (
  SELECT event_type,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(v) AS BIGINT) AS sy, CAST(SUM(x * v) AS BIGINT) AS sxy
  FROM (
    SELECT event_type, i AS x, vals[i] AS v
    FROM seqs, UNNEST(range(1, {_TS_P} + 1)) AS t(i)
  ) GROUP BY event_type
)
SELECT m.event_type,
  CAST(m.n AS BIGINT) AS n_pairs,
  CAST(m.slope AS BIGINT) AS theilsen_slope_e6,
  ({_TS_P} * o.sxy - o.sx * o.sy
    + CAST({_TS_OFFSET} AS BIGINT) * ({_TS_P} * o.sxx - o.sx * o.sx))
    // ({_TS_P} * o.sxx - o.sx * o.sx)
    - CAST({_TS_OFFSET} AS BIGINT) AS ols_slope_e6
FROM med m JOIN ols o ON m.event_type = o.event_type
WHERE m.rn = (m.n + 1) // 2
ORDER BY m.event_type
"""


# ---------------------------------------------------------------------------
# Mann-Kendall trend test + Pettitt change-point test (sketch-first)
# ---------------------------------------------------------------------------
def ts_mann_kendall(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Kendall S statistic and Kendall tau per series.

    The non-parametric companion to ``ts_theilsen_trend``: S counts
    concordant minus discordant pairs (sign of v_j − v_i over all i<j),
    tau normalizes by the pair count.  Sketch-first like the rest of
    the robust-stats family — P(P−1)/2 sign comparisons per series,
    row-local, independent of input rows.  tau ships in ppm through the
    positive-offset division (negative-dividend semantics differ across
    engines, see ``_TS_OFFSET``).
    """
    p = _TS_P
    n_pairs = p * (p - 1) // 2
    seqs = _paa_sequences(spark, sf, p, 1_000_000)
    s_stat = F.expr(
        f"""
aggregate(flatten(transform(sequence(1, {p - 1}), i ->
  transform(sequence(i + 1, {p}), j ->
    CASE WHEN element_at(vals, j) > element_at(vals, i) THEN 1L
         WHEN element_at(vals, j) < element_at(vals, i) THEN -1L
         ELSE 0L END))), 0L, (a, x) -> a + x)
"""
    )
    return (
        seqs.select("event_type", s_stat.alias("s_stat"))
        .select(
            "event_type",
            "s_stat",
            F.lit(n_pairs).cast("long").alias("n_pairs"),
            F.expr(
                f"(s_stat + {n_pairs}L) * 1000000L div {n_pairs}L"
                " - 1000000L"
            ).alias("tau_ppm"),
        )
        .orderBy("event_type")
    )


TS_MANN_KENDALL_SQL = f"""
WITH {_paa_oracle_cte(_TS_P, 1_000_000)},
signs AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN vals[j] > vals[i] THEN 1
                  WHEN vals[j] < vals[i] THEN -1 ELSE 0 END) AS BIGINT)
      AS s_stat
  FROM seqs,
    UNNEST(range(1, {_TS_P} + 1)) AS t1(i),
    UNNEST(range(1, {_TS_P} + 1)) AS t2(j)
  WHERE j > i
  GROUP BY event_type
)
SELECT event_type, s_stat,
  CAST({_TS_P * (_TS_P - 1) // 2} AS BIGINT) AS n_pairs,
  (s_stat + {_TS_P * (_TS_P - 1) // 2}) * 1000000
    // {_TS_P * (_TS_P - 1) // 2} - 1000000 AS tau_ppm
FROM signs
ORDER BY event_type
"""


def ts_pettitt_change(spark: SparkSession, sf: str) -> DataFrame:
    """Pettitt change-point test per series: the split t maximizing
    |U_t|, U_t = Σ_{i≤t, j>t} sign(v_j − v_i).

    Rank-based single change-point detection — the distribution-free
    counterpart of ``ts_cusum_changepoint``.  All P−1 candidate splits
    are evaluated row-locally over the PAA sketch (O(P³) integer ops on
    P=24 values); the reported split is the smallest t attaining the
    max |U_t|.
    """
    p = _TS_P
    seqs = _paa_sequences(spark, sf, p, 1_000_000)
    u_arr = F.expr(
        f"""
transform(sequence(1, {p - 1}), t ->
  aggregate(flatten(transform(sequence(1, {p}), i ->
    transform(sequence(1, {p}), j ->
      CASE WHEN i <= t AND j > t THEN
        CASE WHEN element_at(vals, j) > element_at(vals, i) THEN 1L
             WHEN element_at(vals, j) < element_at(vals, i) THEN -1L
             ELSE 0L END
      ELSE 0L END))), 0L, (a, x) -> a + x))
"""
    )
    best = F.expr(
        f"""
aggregate(sequence(1, {p - 1}),
  named_struct('t', 0L, 'u', -1L),
  (acc, t) -> CASE WHEN abs(element_at(us, t)) > acc.u
    THEN named_struct('t', CAST(t AS BIGINT),
                      'u', abs(element_at(us, t)))
    ELSE acc END)
"""
    )
    return (
        seqs.select("event_type", u_arr.alias("us"))
        .select(
            "event_type",
            best.alias("b"),
        )
        .select(
            "event_type",
            F.col("b.t").alias("change_at"),
            F.col("b.u").alias("u_abs_max"),
        )
        .orderBy("event_type")
    )


TS_PETTITT_SQL = f"""
WITH {_paa_oracle_cte(_TS_P, 1_000_000)},
u AS (
  SELECT event_type, t.t,
    CAST(SUM(CASE WHEN i <= t.t AND j > t.t THEN
      CASE WHEN vals[j] > vals[i] THEN 1
           WHEN vals[j] < vals[i] THEN -1 ELSE 0 END
      ELSE 0 END) AS BIGINT) AS u_t
  FROM seqs,
    UNNEST(range(1, {_TS_P})) AS t(t),
    UNNEST(range(1, {_TS_P} + 1)) AS t1(i),
    UNNEST(range(1, {_TS_P} + 1)) AS t2(j)
  GROUP BY event_type, t.t
),
ranked AS (
  SELECT event_type, t AS change_at, abs(u_t) AS u_abs_max,
    ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY abs(u_t) DESC, t ASC) AS rn
  FROM u
)
SELECT event_type, CAST(change_at AS BIGINT) AS change_at, u_abs_max
FROM ranked WHERE rn = 1
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Trimmed mean (keyed order statistics, no per-series collect)
# ---------------------------------------------------------------------------
def ts_trimmed_mean(spark: SparkSession, sf: str) -> DataFrame:
    """10 %-trimmed mean per series next to the plain mean.

    The robust location estimate, computed scale-correctly: values are
    ranked INSIDE each series by one keyed window (never collected into
    a per-series array — per-series history can be unbounded), then a
    single conditional aggregate sums the middle n−2k values.  Ties at
    the trim boundary resolve by the deterministic (value, event_id)
    order in both engines.  e6-exact.
    """
    events = load_table(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    )
    base = events.select(
        "event_type",
        "event_id",
        F.floor(F.col("value").cast("decimal(30,10)") * 1_000_000)
        .cast("long")
        .alias("v_e6"),
    )
    w = Window.partitionBy("event_type").orderBy("v_e6", "event_id")
    ranked = base.withColumn("rn", F.row_number().over(w))
    counts = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v_e6").alias("sum_e6")
    )
    mid = (
        ranked.join(F.broadcast(counts.select("event_type", "n")), "event_type")
        .filter(
            (F.col("rn") > F.expr("n div 10"))
            & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
        )
        .groupBy("event_type")
        .agg(
            F.sum("v_e6").alias("mid_sum_e6"),
            F.count(F.lit(1)).alias("n_mid"),
        )
    )
    return (
        counts.join(mid, "event_type")
        .select(
            "event_type",
            "n",
            F.expr("sum_e6 div n").alias("mean_e6"),
            "n_mid",
            F.expr("mid_sum_e6 div n_mid").alias("trimmed_mean_e6"),
        )
        .orderBy("event_type")
    )


TS_TRIMMED_SQL = """
WITH base AS (
  SELECT event_type, event_id,
    CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT) AS v_e6
  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY v_e6, event_id) AS rn
  FROM base
),
counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(v_e6) AS sum_e6
  FROM base GROUP BY event_type
),
mid AS (
  SELECT r.event_type, SUM(r.v_e6) AS mid_sum_e6,
    CAST(COUNT(*) AS BIGINT) AS n_mid
  FROM ranked r JOIN counts c ON r.event_type = c.event_type
  WHERE r.rn > c.n // 10 AND r.rn <= c.n - c.n // 10
  GROUP BY r.event_type
)
SELECT c.event_type, c.n,
  CAST(c.sum_e6 // c.n AS BIGINT) AS mean_e6,
  m.n_mid,
  CAST(m.mid_sum_e6 // m.n_mid AS BIGINT) AS trimmed_mean_e6
FROM counts c JOIN mid m ON c.event_type = m.event_type
ORDER BY c.event_type
"""


# ---------------------------------------------------------------------------
# ABC / Pareto classification on the distributed prefix sum
# ---------------------------------------------------------------------------
def orders_pareto_abc(spark: SparkSession, sf: str) -> DataFrame:
    """ABC classification of parts by cumulative revenue share.

    The 80/20 report: parts ranked by revenue, classified A while the
    running share is under 70 %, B under 90 %, C after.  The global
    running sum uses :func:`operators.scale.distributed_prefix_sum` —
    ordered by (revenue desc, part) via the (-rev, key) trick — so no
    single-task window even at catalog sizes in the millions.  Output:
    per-class part counts and revenue ppm.
    """
    from kukur_spark.operators.scale import distributed_prefix_sum

    lineitem = load_table(spark, sf, "lineitem")
    rev = (
        lineitem.groupBy("l_partkey")
        .agg(
            F.floor(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(30,10)")
                )
                * 1_000_000
            )
            .cast("long")
            .alias("rev_e6")
        )
        .withColumn("neg_rev", -F.col("rev_e6"))
    )
    cum = distributed_prefix_sum(rev, ["neg_rev", "l_partkey"], ["rev_e6"])
    total = rev.agg(F.sum("rev_e6").alias("total_e6"))
    classed = cum.crossJoin(F.broadcast(total)).select(
        "l_partkey",
        "rev_e6",
        F.expr(
            """
CASE WHEN CAST(rev_e6_cum AS DECIMAL(38,0)) * 100
          <= CAST(total_e6 AS DECIMAL(38,0)) * 70 THEN 'A'
     WHEN CAST(rev_e6_cum AS DECIMAL(38,0)) * 100
          <= CAST(total_e6 AS DECIMAL(38,0)) * 90 THEN 'B'
     ELSE 'C' END
"""
        ).alias("abc"),
        "total_e6",
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_e6").alias("class_rev_e6"),
            F.max("total_e6").alias("_tot"),
        )
        .select(
            "abc",
            "n_parts",
            "class_rev_e6",
            F.expr(
                "CAST(CAST(class_rev_e6 AS DECIMAL(38,0)) * 1000000"
                " div _tot AS BIGINT)"
            ).alias("rev_share_ppm"),
        )
        .orderBy("abc")
    )


ORDERS_ABC_SQL = """
WITH rev AS (
  SELECT l_partkey,
    CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount)
      AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS rev_e6
  FROM lineitem GROUP BY l_partkey
),
cum AS (
  SELECT l_partkey, rev_e6,
    SUM(rev_e6) OVER (ORDER BY rev_e6 DESC, l_partkey) AS rev_e6_cum,
    SUM(rev_e6) OVER () AS total_e6
  FROM rev
),
classed AS (
  SELECT l_partkey, rev_e6, total_e6,
    CASE WHEN CAST(rev_e6_cum AS HUGEINT) * 100
              <= CAST(total_e6 AS HUGEINT) * 70 THEN 'A'
         WHEN CAST(rev_e6_cum AS HUGEINT) * 100
              <= CAST(total_e6 AS HUGEINT) * 90 THEN 'B'
         ELSE 'C' END AS abc
  FROM cum
)
SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
  CAST(SUM(rev_e6) AS BIGINT) AS class_rev_e6,
  CAST(CAST(SUM(rev_e6) AS HUGEINT) * 1000000
    // MAX(total_e6) AS BIGINT) AS rev_share_ppm
FROM classed GROUP BY abc ORDER BY abc
"""


# ---------------------------------------------------------------------------
# Q-Q decile comparison between two sources
# ---------------------------------------------------------------------------
def docs_qq_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """Decile-by-decile quantile comparison between two sources' length
    distributions — the per-quantile detail behind ``docs_ks_drift``'s
    single sup statistic.

    Exact order statistics per side via one keyed window (rank within
    source, (value, doc_id) total order); decile d picks the
    ceil(d·n/10)-th smallest — all integer arithmetic.  The decile probe
    is a constant ×10 map-side explode on skinny ranked rows.
    """
    docs = load_table(spark, sf, "documents").filter(
        F.col("source").isin(_KS_SRC_A, _KS_SRC_B)
        & F.col("n_chars").isNotNull()
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .join(
            F.broadcast(
                docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
            ),
            "source",
        )
    )
    picked = (
        ranked.select(
            "source",
            "n_chars",
            "rn",
            "n",
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("d"),
        )
        .filter(F.expr("rn = (d * n + 9) div 10"))
    )
    return (
        picked.groupBy("d")
        .agg(
            F.max(
                F.when(F.col("source") == _KS_SRC_A, F.col("n_chars"))
            ).alias("q_a"),
            F.max(
                F.when(F.col("source") == _KS_SRC_B, F.col("n_chars"))
            ).alias("q_b"),
        )
        .select(
            F.col("d").cast("long").alias("decile"),
            "q_a",
            "q_b",
            (F.col("q_a") - F.col("q_b")).alias("gap"),
        )
        .orderBy("decile")
    )


DOCS_QQ_SQL = f"""
WITH docs0 AS (
  SELECT source, doc_id, n_chars FROM documents
  WHERE source IN ('{_KS_SRC_A}', '{_KS_SRC_B}') AND n_chars IS NOT NULL
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM docs0
),
picked AS (
  SELECT source, n_chars, d.d
  FROM ranked, UNNEST(range(1, 11)) AS d(d)
  WHERE rn = (d.d * n + 9) // 10
)
SELECT CAST(d AS BIGINT) AS decile,
  MAX(CASE WHEN source = '{_KS_SRC_A}' THEN n_chars END) AS q_a,
  MAX(CASE WHEN source = '{_KS_SRC_B}' THEN n_chars END) AS q_b,
  MAX(CASE WHEN source = '{_KS_SRC_A}' THEN n_chars END)
    - MAX(CASE WHEN source = '{_KS_SRC_B}' THEN n_chars END) AS gap
FROM picked GROUP BY d ORDER BY decile
"""


# ---------------------------------------------------------------------------
# Term burstiness (Church-Gale dispersion)
# ---------------------------------------------------------------------------
def text_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 burstiest terms: variance-to-mean ratio of per-document
    term counts over documents that contain the term at least once.

    Burstiness separates topical terms (arrive in bursts where they
    appear) from function words (spread evenly) — a classic corpus
    statistic for stopword/keyword discrimination.  Exact integers:
    Var/mean over counts c_i rides the cross-multiplied form
    ppm = 10⁶·(k·Σc² − (Σc)²) div (k·Σc) with k = docs containing the
    term; map-side explode + one keyed aggregate + bounded_rank.
    """
    from kukur_spark.operators.scale import bounded_rank

    docs = load_table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
    )
    counts = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .filter(F.length("term") > 0)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = counts.groupBy("term").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    scored = stats.select(
        "term",
        "k",
        "sc",
        F.expr(
            "(k * scc - sc * sc) * 1000000L div (k * sc)"
        ).alias("burstiness_ppm"),
    ).filter(F.col("k") >= 5)
    return bounded_rank(
        scored,
        [F.col("burstiness_ppm").desc(), F.col("term")],
        20,
    ).select("term", "k", "sc", "burstiness_ppm", "rank")


TEXT_BURSTINESS_SQL = """
WITH counts AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
    FROM documents WHERE text IS NOT NULL
  ) WHERE length(term) > 0
  GROUP BY term, doc_id
),
stats AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS k,
    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(c * c) AS BIGINT) AS scc
  FROM counts GROUP BY term
),
scored AS (
  SELECT term, k, sc,
    (k * scc - sc * sc) * 1000000 // (k * sc) AS burstiness_ppm
  FROM stats WHERE k >= 5
)
SELECT term, k, sc, burstiness_ppm,
  CAST(ROW_NUMBER() OVER (ORDER BY burstiness_ppm DESC, term) AS BIGINT)
    AS rank
FROM scored
ORDER BY burstiness_ppm DESC, term
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Keyed window-function suite
# ---------------------------------------------------------------------------
def events_rank_suite(spark: SparkSession, sf: str) -> DataFrame:
    """The full ranking-window surface in one keyed pass: rank,
    dense_rank, percent_rank, cume_dist, ntile(4), lag/lead deltas —
    per event_type over value order, top 5 rows per series by rank.

    percent_rank and cume_dist ship as cross-multiplied integer ppm
    ((rank−1)·10⁶ div (n−1), cume·10⁶ div n) so the row set is
    hash-exact cross-engine.  One keyed window (partitioned by series),
    no global ordering anywhere.
    """
    events = load_table(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    )
    base = events.select(
        "event_type",
        "event_id",
        F.floor(F.col("value").cast("decimal(30,10)") * 1_000_000)
        .cast("long")
        .alias("v_e6"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("v_e6").desc(), F.col("event_id")
    )
    n_w = Window.partitionBy("event_type")
    ranked = (
        base.withColumn("rnk", F.rank().over(w))
        .withColumn("dense_rnk", F.dense_rank().over(w))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .withColumn("prev_v_e6", F.lag("v_e6", 1).over(w))
        .withColumn("next_v_e6", F.lead("v_e6", 1).over(w))
        .withColumn("n", F.count(F.lit(1)).over(n_w))
        # cume_dist numerator: rows with value >= current under the
        # DESC order = count of rn' <= last peer = standard definition
        .withColumn(
            "n_le",
            F.max("rn").over(
                Window.partitionBy("event_type", "v_e6")
            ),
        )
    )
    return (
        ranked.filter(F.col("rn") <= 5)
        .select(
            "event_type",
            F.col("rn").cast("long").alias("rn"),
            "event_id",
            "v_e6",
            F.col("rnk").cast("long").alias("rnk"),
            F.col("dense_rnk").cast("long").alias("dense_rnk"),
            "quartile",
            F.expr("(rnk - 1) * 1000000L div (n - 1)").alias(
                "percent_rank_ppm"
            ),
            F.expr("n_le * 1000000L div n").alias("cume_dist_ppm"),
            (F.col("v_e6") - F.col("prev_v_e6")).alias("gap_prev_e6"),
            (F.col("v_e6") - F.col("next_v_e6")).alias("gap_next_e6"),
        )
        .orderBy("event_type", "rn")
    )


EVENTS_RANK_SQL = """
WITH base AS (
  SELECT event_type, event_id,
    CAST(FLOOR(CAST(value AS DECIMAL(30,10)) * 1000000) AS BIGINT) AS v_e6
  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
),
stage1 AS (
  SELECT *,
    RANK() OVER w AS rnk,
    DENSE_RANK() OVER w AS dense_rnk,
    ROW_NUMBER() OVER w AS rn,
    NTILE(4) OVER w AS quartile,
    LAG(v_e6, 1) OVER w AS prev_v_e6,
    LEAD(v_e6, 1) OVER w AS next_v_e6,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY v_e6 DESC, event_id)
),
ranked AS (
  SELECT *,
    MAX(rn) OVER (PARTITION BY event_type, v_e6) AS n_le
  FROM stage1
)
SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id, v_e6,
  CAST(rnk AS BIGINT) AS rnk,
  CAST(dense_rnk AS BIGINT) AS dense_rnk,
  CAST(quartile AS BIGINT) AS quartile,
  (rnk - 1) * 1000000 // (n - 1) AS percent_rank_ppm,
  n_le * 1000000 // n AS cume_dist_ppm,
  v_e6 - prev_v_e6 AS gap_prev_e6,
  v_e6 - next_v_e6 AS gap_next_e6
FROM ranked WHERE rn <= 5
ORDER BY event_type, rn
"""


# ---------------------------------------------------------------------------
# Largest-remainder quota allocation
# ---------------------------------------------------------------------------
_QUOTA_BUDGET = 10_000


def docs_quota_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Allocate a fixed sampling budget across sources proportionally
    with the largest-remainder (Hamilton) method — exact.

    The mixture-construction primitive: floor quotas q_s = B·n_s div N
    always under-allocate by r < #sources; the r leftover slots go to
    the largest remainders (ties to the larger source, then name).
    Everything is one source-keyed aggregate plus arithmetic on the
    #sources-row summary — integer-exact, no floats anywhere, and the
    allocation provably sums to exactly B (asserted in tests).
    """
    docs = load_table(spark, sf, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("total"))
    b = _QUOTA_BUDGET
    quoted = counts.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        F.expr(
            f"CAST(CAST(n_docs AS DECIMAL(38,0)) * {b} div total AS BIGINT)"
        ).alias("floor_quota"),
        F.expr(
            f"CAST(CAST(n_docs AS DECIMAL(38,0)) * {b} % total AS BIGINT)"
        ).alias("remainder"),
        "total",
    )
    leftovers = quoted.groupBy().agg(
        (F.lit(b) - F.sum("floor_quota")).alias("r")
    )
    w = Window.orderBy(
        F.col("remainder").desc(), F.col("n_docs").desc(), F.col("source")
    )
    # the window ranks the #sources-row summary (catalog-sized) — the
    # allocation table itself, not corpus rows; the explicit limit is
    # the documented catalog bound the plan audit checks for
    return (
        quoted.crossJoin(F.broadcast(leftovers))
        .limit(_MAX_SERIES)
        .withColumn("pos", F.row_number().over(w))
        .select(
            "source",
            "n_docs",
            "floor_quota",
            "remainder",
            (
                F.col("floor_quota")
                + F.when(F.col("pos") <= F.col("r"), 1).otherwise(0)
            ).alias("quota"),
        )
        .orderBy("source")
    )


DOCS_QUOTA_SQL = f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
total AS (SELECT SUM(n_docs) AS total FROM counts),
quoted AS (
  SELECT source, n_docs,
    CAST(CAST(n_docs AS HUGEINT) * {_QUOTA_BUDGET} // total AS BIGINT)
      AS floor_quota,
    CAST(CAST(n_docs AS HUGEINT) * {_QUOTA_BUDGET} % total AS BIGINT)
      AS remainder
  FROM counts, total
),
leftovers AS (
  SELECT {_QUOTA_BUDGET} - SUM(floor_quota) AS r FROM quoted
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY remainder DESC, n_docs DESC, source) AS pos
  FROM quoted
)
SELECT source, n_docs, floor_quota, remainder,
  floor_quota + CASE WHEN pos <= (SELECT r FROM leftovers)
                     THEN 1 ELSE 0 END AS quota
FROM ranked
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Dedup survivorship-policy comparison
# ---------------------------------------------------------------------------
def docs_dedup_survivorship(spark: SparkSession, sf: str) -> DataFrame:
    """How much does the canonical-pick policy matter?  Per near-dup
    cluster, compare three survivorship rules — keep-first (min doc_id),
    keep-longest (max n_chars, ties to min id), keep-last (max doc_id) —
    and report cluster counts, agreement rates, and bytes kept per
    policy.

    Clusters are the same banded-LSH + exact-Jaccard pointer-doubling
    components as ``dedup_clusters``; the policy layer is one keyed
    aggregate over (cluster, member metadata) — argmaxes via struct-max,
    never a window.  The composition answers a real curation question:
    if policies agree on ~all clusters, the cheap rule is safe.
    """
    from kukur_spark.workloads import dedup_doc_groups

    groups = dedup_doc_groups(spark, sf)
    docs = load_table(spark, sf, "documents").select("doc_id", "n_chars")
    member = groups.join(docs, "doc_id")
    per_cluster = (
        member.groupBy("canonical_id")
        .agg(
            F.count(F.lit(1)).alias("size"),
            F.min("doc_id").alias("first_id"),
            F.max("doc_id").alias("last_id"),
            F.max(
                F.struct(
                    F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("lng"),
            F.sum("n_chars").alias("cluster_bytes"),
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("n"))
            ).getField("n_chars").alias("longest_bytes"),
            F.min(
                F.struct(F.col("doc_id"), F.col("n_chars"))
            ).getField("n_chars").alias("first_bytes"),
        )
        .filter(F.col("size") > 1)
        .withColumn("longest_id", -F.col("lng.neg_id"))
    )
    return per_cluster.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("size").alias("n_docs_clustered"),
        F.sum(
            F.when(F.col("first_id") == F.col("longest_id"), 1).otherwise(0)
        ).alias("n_first_eq_longest"),
        F.sum(
            F.when(F.col("last_id") == F.col("longest_id"), 1).otherwise(0)
        ).alias("n_last_eq_longest"),
        F.sum("first_bytes").alias("bytes_kept_first"),
        F.sum("longest_bytes").alias("bytes_kept_longest"),
        F.sum(F.col("cluster_bytes") - F.col("longest_bytes")).alias(
            "bytes_dropped_longest"
        ),
    )


def _survivorship_sql() -> str:
    from kukur_spark.dedup_sql import DEDUP_CLUSTERS_SQL

    return DEDUP_CLUSTERS_SQL.replace(
        "SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id\n"
        "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id\n"
        "ORDER BY d.doc_id",
        """,
groups AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id,
         d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
per_cluster AS (
  SELECT canonical_id,
    CAST(COUNT(*) AS BIGINT) AS size,
    MIN(doc_id) AS first_id,
    MAX(doc_id) AS last_id,
    MAX(ROW(n_chars, -doc_id)) AS lng,
    CAST(SUM(n_chars) AS BIGINT) AS cluster_bytes,
    MIN(ROW(doc_id, n_chars)) AS fst
  FROM groups GROUP BY canonical_id
  HAVING COUNT(*) > 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
  CAST(SUM(size) AS BIGINT) AS n_docs_clustered,
  CAST(SUM(CASE WHEN first_id = -(lng)[2] THEN 1 ELSE 0 END) AS BIGINT)
    AS n_first_eq_longest,
  CAST(SUM(CASE WHEN last_id = -(lng)[2] THEN 1 ELSE 0 END) AS BIGINT)
    AS n_last_eq_longest,
  CAST(SUM((fst)[2]) AS BIGINT) AS bytes_kept_first,
  CAST(SUM((lng)[1]) AS BIGINT) AS bytes_kept_longest,
  CAST(SUM(cluster_bytes - (lng)[1]) AS BIGINT)
    AS bytes_dropped_longest
FROM per_cluster""",
    )


# ---------------------------------------------------------------------------
# Multi-lag autocorrelation function
# ---------------------------------------------------------------------------
_ACF_MAX_LAG = 7


def ts_acf_multi(spark: SparkSession, sf: str) -> DataFrame:
    """ACF for lags 1..7 per series — the correlogram behind AR-order
    picking, extending ``ts_autocorr``'s lag-1 machinery.

    One keyed window computes all seven lag columns in a single pass;
    the stacked (series, lag) pairs then share the exact-moment
    aggregate (decimal-bridged sums, IEEE-identical final division) and
    ship as ppm.  Undefined denominators drop, like the lag-1 twin.
    """
    events = load_table(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    base = events.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.col("value").alias("x"),
    )
    # One-pass moment restructure (round 10): the explode-then-aggregate
    # form paid 5 decimal sums per STACKED row (7× multiplicity → 35
    # decimal adds per event).  Of the five lag-k moments only the cross
    # term Σ x·y genuinely needs per-lag products; the other four are
    # exactly the per-series totals minus tiny boundary corrections:
    #   sx(k)  = S − Σ x  over the first k rows (where lag-k IS NULL)
    #   sy(k)  = S − Σ x  over the last  k rows (where lead-k IS NULL)
    #   sxx(k) = Q − Σ x² over the first k rows, syy(k) likewise last.
    # Decimal sums reassociate exactly, so every e6 integer — and hence
    # every downstream IEEE double — is bit-identical to the stacked
    # form (oracle-verified at all three SFs).  lead/lag share one
    # Window operator (same partition+order), so this stays one sort.
    lagged = base.select(
        "event_type",
        "x",
        *[
            F.lag("x", k).over(w).alias(f"y{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
        *[
            F.lead("x", k).over(w).alias(f"z{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    xd = F.col("x").cast("decimal(30,10)")
    xd2 = (F.col("x") * F.col("x")).cast("decimal(30,10)")
    per_series = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum(xd).alias("s_all"),
        F.sum(xd2).alias("q_all"),
        *[
            agg_col
            for k in range(1, _ACF_MAX_LAG + 1)
            for agg_col in (
                F.sum(F.when(F.col(f"y{k}").isNull(), xd)).alias(f"pre{k}"),
                F.sum(F.when(F.col(f"y{k}").isNull(), xd2)).alias(
                    f"pre2_{k}"
                ),
                F.sum(F.when(F.col(f"z{k}").isNull(), xd)).alias(f"suf{k}"),
                F.sum(F.when(F.col(f"z{k}").isNull(), xd2)).alias(
                    f"suf2_{k}"
                ),
                F.sum(
                    F.when(
                        F.col(f"y{k}").isNotNull(),
                        (F.col("x") * F.col(f"y{k}")).cast("decimal(30,10)"),
                    )
                ).alias(f"sxy{k}"),
            )
        ],
    )
    agg = (
        per_series.select(
            "event_type",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("long").alias("lag"),
                            (F.col("nn") - F.lit(k)).alias("n"),
                            F.floor(
                                (F.col("s_all") - F.col(f"pre{k}"))
                                * 1_000_000
                            )
                            .cast("long")
                            .alias("sx_e6"),
                            F.floor(
                                (F.col("s_all") - F.col(f"suf{k}"))
                                * 1_000_000
                            )
                            .cast("long")
                            .alias("sy_e6"),
                            F.floor(F.col(f"sxy{k}") * 1_000_000)
                            .cast("long")
                            .alias("sxy_e6"),
                            F.floor(
                                (F.col("q_all") - F.col(f"pre2_{k}"))
                                * 1_000_000
                            )
                            .cast("long")
                            .alias("sxx_e6"),
                            F.floor(
                                (F.col("q_all") - F.col(f"suf2_{k}"))
                                * 1_000_000
                            )
                            .cast("long")
                            .alias("syy_e6"),
                        )
                        for k in range(1, _ACF_MAX_LAG + 1)
                    ]
                )
            ).alias("p"),
        )
        .select(
            "event_type",
            "p.lag",
            "p.n",
            "p.sx_e6",
            "p.sy_e6",
            "p.sxy_e6",
            "p.sxx_e6",
            "p.syy_e6",
        )
        .filter(F.col("n") > 0)
    )
    n = F.col("n").cast("double")
    sx = F.col("sx_e6").cast("double") / 1e6
    sy = F.col("sy_e6").cast("double") / 1e6
    sxy = F.col("sxy_e6").cast("double") / 1e6
    sxx = F.col("sxx_e6").cast("double") / 1e6
    syy = F.col("syy_e6").cast("double") / 1e6
    den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
    r = (n * sxy - sx * sy) / F.sqrt(den2)
    return (
        agg.filter(den2 > 0)
        .select(
            "event_type",
            "lag",
            "n",
            F.floor(r * 1_000_000).cast("long").alias("acf_ppm"),
        )
        .orderBy("event_type", "lag")
    )


def _acf_lag_sql(k: int) -> str:
    return f"""
  SELECT event_type, CAST({k} AS BIGINT) AS lag, x,
    LAG(x, {k}) OVER (PARTITION BY event_type
                      ORDER BY ts_us, event_id) AS y
  FROM base"""


TS_ACF_SQL = (
    """
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value AS x
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
stacked AS ("""
    + "\nUNION ALL\n".join(
        _acf_lag_sql(k) for k in range(1, _ACF_MAX_LAG + 1)
    )
    + """
),
agg AS (
  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(FLOOR(SUM(CAST(x AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sx_e6,
    CAST(FLOOR(SUM(CAST(y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sy_e6,
    CAST(FLOOR(SUM(CAST(x * y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sxy_e6,
    CAST(FLOOR(SUM(CAST(x * x AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sxx_e6,
    CAST(FLOOR(SUM(CAST(y * y AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS syy_e6
  FROM stacked WHERE y IS NOT NULL
  GROUP BY event_type, lag
)
SELECT event_type, lag, n,
  CAST(FLOOR(
    (CAST(n AS DOUBLE) * (CAST(sxy_e6 AS DOUBLE) / 1e6)
      - (CAST(sx_e6 AS DOUBLE) / 1e6) * (CAST(sy_e6 AS DOUBLE) / 1e6))
    / sqrt((CAST(n AS DOUBLE) * (CAST(sxx_e6 AS DOUBLE) / 1e6)
            - (CAST(sx_e6 AS DOUBLE) / 1e6) * (CAST(sx_e6 AS DOUBLE) / 1e6))
         * (CAST(n AS DOUBLE) * (CAST(syy_e6 AS DOUBLE) / 1e6)
            - (CAST(sy_e6 AS DOUBLE) / 1e6) * (CAST(sy_e6 AS DOUBLE) / 1e6)))
    * 1000000) AS BIGINT) AS acf_ppm
FROM agg
WHERE (CAST(n AS DOUBLE) * (CAST(sxx_e6 AS DOUBLE) / 1e6)
       - (CAST(sx_e6 AS DOUBLE) / 1e6) * (CAST(sx_e6 AS DOUBLE) / 1e6))
    * (CAST(n AS DOUBLE) * (CAST(syy_e6 AS DOUBLE) / 1e6)
       - (CAST(sy_e6 AS DOUBLE) / 1e6) * (CAST(sy_e6 AS DOUBLE) / 1e6)) > 0
ORDER BY event_type, lag
"""
)


# ---------------------------------------------------------------------------
# Cohort LTV curves
# ---------------------------------------------------------------------------
def orders_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative revenue per customer by acquisition cohort — the LTV
    curve behind retention economics.

    Cohort = month of a customer's first order (1995 cohorts, offsets
    0..6 for a compact fixed-shape report); month offsets are pure
    integer month arithmetic (year·12+month), the running LTV is a
    cohort-keyed window over ≤7 summary rows, and per-customer LTV is
    an exact integral division of e6 revenue by the cohort size.
    """
    orders = load_table(spark, sf, "orders")
    month = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    firsts = orders.groupBy("o_custkey").agg(
        F.min(month).alias("cohort_m")
    )
    cohort_size = firsts.groupBy("cohort_m").agg(
        F.count(F.lit(1)).alias("cohort_customers")
    )
    joined = (
        orders.select(
            "o_custkey",
            month.alias("m"),
            F.floor(F.col("o_totalprice").cast("decimal(30,10)") * 1_000_000)
            .cast("long")
            .alias("rev_e6"),
        )
        .join(F.broadcast(firsts), "o_custkey")
        .withColumn("m_offset", F.col("m") - F.col("cohort_m"))
        .filter(
            (F.col("cohort_m") >= 1995 * 12 + 1)
            & (F.col("cohort_m") <= 1995 * 12 + 12)
            & (F.col("m_offset") <= 6)
        )
    )
    per_offset = joined.groupBy("cohort_m", "m_offset").agg(
        F.sum("rev_e6").alias("rev_e6"),
        F.countDistinct("o_custkey").alias("active_customers"),
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("m_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_offset.withColumn("cum_rev_e6", F.sum("rev_e6").over(w))
        .join(F.broadcast(cohort_size), "cohort_m")
        .select(
            F.col("cohort_m").cast("long").alias("cohort_m"),
            F.col("m_offset").cast("long").alias("m_offset"),
            "active_customers",
            "rev_e6",
            "cum_rev_e6",
            "cohort_customers",
            F.expr("cum_rev_e6 div cohort_customers").alias(
                "ltv_per_customer_e6"
            ),
        )
        .orderBy("cohort_m", "m_offset")
    )


ORDERS_LTV_SQL = """
WITH om AS (
  SELECT o_custkey,
    EXTRACT(year FROM o_orderdate) * 12 + EXTRACT(month FROM o_orderdate)
      AS m,
    CAST(FLOOR(CAST(o_totalprice AS DECIMAL(30,10)) * 1000000) AS BIGINT)
      AS rev_e6
  FROM orders
),
firsts AS (SELECT o_custkey, MIN(m) AS cohort_m FROM om GROUP BY 1),
cohort_size AS (
  SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS cohort_customers
  FROM firsts GROUP BY 1
),
joined AS (
  SELECT om.o_custkey, om.m, om.rev_e6, f.cohort_m,
    om.m - f.cohort_m AS m_offset
  FROM om JOIN firsts f ON om.o_custkey = f.o_custkey
  WHERE f.cohort_m BETWEEN 1995 * 12 + 1 AND 1995 * 12 + 12
    AND om.m - f.cohort_m <= 6
),
per_offset AS (
  SELECT cohort_m, m_offset, SUM(rev_e6) AS rev_e6,
    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS active_customers
  FROM joined GROUP BY 1, 2
)
SELECT CAST(p.cohort_m AS BIGINT) AS cohort_m,
  CAST(p.m_offset AS BIGINT) AS m_offset,
  p.active_customers,
  CAST(p.rev_e6 AS BIGINT) AS rev_e6,
  CAST(SUM(p.rev_e6) OVER (PARTITION BY p.cohort_m ORDER BY p.m_offset)
    AS BIGINT) AS cum_rev_e6,
  c.cohort_customers,
  CAST(SUM(p.rev_e6) OVER (PARTITION BY p.cohort_m ORDER BY p.m_offset)
    AS BIGINT) // c.cohort_customers AS ltv_per_customer_e6
FROM per_offset p JOIN cohort_size c ON p.cohort_m = c.cohort_m
ORDER BY cohort_m, m_offset
"""


# ---------------------------------------------------------------------------
# Packing-efficiency eval: best-fit-decreasing vs next-fit
# ---------------------------------------------------------------------------
_PACK_EVAL_C = 256
_PACK_EVAL_SHARDS = 16


def docs_pack_bestfit_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence-packing efficiency: best-fit-decreasing vs next-fit.

    ``docs_pack_nextfit`` is the streaming-friendly scale path (O(1)
    carry, arrival order); best-fit-decreasing is the quality
    benchmark (sort by length desc, place each doc into the fullest
    bin it fits).  This eval packs every shard BOTH ways and reports
    bins used and fill ratio per shard — the measured price of
    streaming-order packing, same self-eval convention as
    emb_ann_recall.  BFD's bin-fill state is an array carried through
    an ``F.aggregate`` fold; the best bin is ``array_max(filter(...))``
    and the positional update a two-arg (value, index) ``transform`` —
    still one keyed exchange, no Python, no window.
    """
    from kukur_spark.operators.dedup import md5_long_sql

    c, shards = _PACK_EVAL_C, _PACK_EVAL_SHARDS
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    d = docs.select(
        "doc_id",
        F.least(F.size(F.split("text", " ")), F.lit(c))
        .cast("long")
        .alias("n_tokens"),
    ).withColumn(
        "shard", F.expr(md5_long_sql("CAST(doc_id AS STRING)")) % shards
    )
    packed = d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.array_sort(
            F.collect_list(F.struct("doc_id", "n_tokens"))
        ).alias("asc"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("n_tokens")).alias("neg"),
                    "doc_id",
                    "n_tokens",
                )
            )
        ).alias("dsc"),
    )
    nf_bins = F.expr(
        f"""
aggregate(
  asc,
  named_struct('bins', CAST(0 AS BIGINT), 'fill', CAST({c} AS BIGINT)),
  (acc, x) -> CASE WHEN acc.fill + x.n_tokens <= {c} THEN
      named_struct('bins', acc.bins, 'fill', acc.fill + x.n_tokens)
    ELSE named_struct('bins', acc.bins + 1, 'fill', x.n_tokens) END,
  acc -> acc.bins)
"""
    )
    bfd_fills = F.expr(
        f"""
aggregate(
  dsc,
  CAST(array() AS array<bigint>),
  (fills, x) -> CASE WHEN exists(fills, f -> f + x.n_tokens <= {c}) THEN
      transform(fills, (f, i) -> CASE WHEN i = array_position(fills,
          array_max(filter(fills, g -> g + x.n_tokens <= {c}))) - 1
        THEN f + x.n_tokens ELSE f END)
    ELSE array_append(fills, x.n_tokens) END)
"""
    )
    return (
        packed.select(
            "shard",
            "n_docs",
            "total_tokens",
            nf_bins.alias("bins_nextfit"),
            F.size(bfd_fills).cast("long").alias("bins_bestfit"),
        )
        .select(
            "shard",
            "n_docs",
            "total_tokens",
            "bins_nextfit",
            "bins_bestfit",
            F.expr(
                f"total_tokens * 1000000L div (bins_nextfit * {c})"
            ).alias("fill_nextfit_ppm"),
            F.expr(
                f"total_tokens * 1000000L div (bins_bestfit * {c})"
            ).alias("fill_bestfit_ppm"),
        )
        .orderBy("shard")
    )


PACK_BESTFIT_SQL = f"""
WITH RECURSIVE d AS (
  SELECT doc_id,
    CAST(least(len(string_split(text, ' ')), {_PACK_EVAL_C}) AS BIGINT)
      AS n_tokens,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      % {_PACK_EVAL_SHARDS} AS shard
  FROM documents
),
lists AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
    SUM(n_tokens) AS total_tokens,
    list(n_tokens ORDER BY doc_id) AS asc_n,
    list(n_tokens ORDER BY n_tokens DESC, doc_id) AS dsc_n
  FROM d GROUP BY shard
),
nf AS (
  SELECT shard, asc_n, 0 AS i, CAST(0 AS BIGINT) AS bins,
    CAST({_PACK_EVAL_C} AS BIGINT) AS fill
  FROM lists
  UNION ALL
  SELECT shard, asc_n, i + 1,
    CASE WHEN fill + asc_n[i + 1] <= {_PACK_EVAL_C}
         THEN bins ELSE bins + 1 END,
    CASE WHEN fill + asc_n[i + 1] <= {_PACK_EVAL_C}
         THEN fill + asc_n[i + 1] ELSE asc_n[i + 1] END
  FROM nf WHERE i < len(asc_n)
),
bfd AS (
  SELECT shard, dsc_n, 0 AS i, CAST([] AS BIGINT[]) AS fills FROM lists
  UNION ALL
  SELECT shard, dsc_n, i + 1,
    CASE WHEN best IS NULL THEN list_append(fills, n)
         ELSE fills[1:pos - 1] || [best + n] || fills[pos + 1:len(fills)]
    END
  FROM (
    SELECT shard, dsc_n, i, fills, dsc_n[i + 1] AS n,
      list_aggregate(
        list_filter(fills, f -> f + dsc_n[i + 1] <= {_PACK_EVAL_C}),
        'max') AS best,
      list_position(fills,
        list_aggregate(
          list_filter(fills, f -> f + dsc_n[i + 1] <= {_PACK_EVAL_C}),
          'max')) AS pos
    FROM bfd WHERE i < len(dsc_n)
  )
)
SELECT l.shard, l.n_docs, CAST(l.total_tokens AS BIGINT) AS total_tokens,
  nf.bins AS bins_nextfit,
  CAST(len(bfd.fills) AS BIGINT) AS bins_bestfit,
  CAST(l.total_tokens * 1000000 // (nf.bins * {_PACK_EVAL_C})
    AS BIGINT) AS fill_nextfit_ppm,
  CAST(l.total_tokens * 1000000 // (CAST(len(bfd.fills) AS BIGINT)
    * {_PACK_EVAL_C}) AS BIGINT) AS fill_bestfit_ppm
FROM lists l
JOIN nf ON nf.shard = l.shard AND nf.i = len(nf.asc_n)
JOIN bfd ON bfd.shard = l.shard AND bfd.i = len(bfd.dsc_n)
ORDER BY l.shard
"""


register("ts_dtw_banded", ts_dtw_banded, TS_DTW_SQL)
register("ts_haar_energy", ts_haar_energy, TS_HAAR_SQL)
register("docs_cdc_chunks", docs_cdc_chunks, DOCS_CDC_SQL)
register("docs_fastcdc_chunks", docs_fastcdc_chunks, DOCS_FASTCDC_SQL)
# ---------------------------------------------------------------------------
# BPE tokenizer-training merge steps
# ---------------------------------------------------------------------------
_BPE_STEPS = 3


def text_bpe_merge_steps(spark: SparkSession, sf: str) -> DataFrame:
    """First N byte-pair-encoding merges learned from the corpus.

    The tokenizer-training kernel: count adjacent symbol pairs weighted
    by word frequency, merge the most frequent pair everywhere, repeat.
    Pair counting is a vocabulary-sized keyed aggregate (the corpus
    collapses to (word, freq) first — the standard trick, corpus bytes
    are touched once); applying a merge is a row-local greedy
    left-to-right fold over each word's symbol array (``F.aggregate``,
    same semantics as the textbook merge: a freshly merged symbol never
    re-matches its own left half).  The driver collects exactly one row
    per step (the argmax pair — same bounded-collect convention as the
    PQ codebooks); ties break on (count desc, pair asc) in both engines.

    Output: one row per learned merge (step, sym_a, sym_b, pair_count).
    """
    docs = load_table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
    )
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "syms",
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.col("word").substr(i, F.lit(1)),
            ),
        )
    )
    words = persist_once(words)

    merges = []
    for step in range(1, _BPE_STEPS + 1):
        pairs = (
            words.select(
                "freq",
                F.explode(
                    # sequence(1, 0) steps BACKWARD for 1-symbol words —
                    # guard with an explicitly empty pair array
                    F.when(
                        F.size("syms") > 1,
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at(
                                    F.col("syms"), i.cast("int")
                                ).alias("sym_a"),
                                F.element_at(
                                    F.col("syms"), (i + 1).cast("int")
                                ).alias("sym_b"),
                            ),
                        ),
                    ).otherwise(
                        F.expr("array()").cast(
                            "array<struct<sym_a:string,sym_b:string>>"
                        )
                    )
                ).alias("p"),
            )
            .groupBy("p.sym_a", "p.sym_b")
            .agg(F.sum("freq").alias("pair_count"))
        )
        top = (
            pairs.orderBy(
                F.col("pair_count").desc(), F.col("sym_a"), F.col("sym_b")
            )
            .limit(1)
            .collect()
        )
        if not top:  # empty corpus / nothing left to merge
            break
        best = top[0]
        merges.append(
            (step, best.sym_a, best.sym_b, int(best.pair_count))
        )
        a, b, ab = best.sym_a, best.sym_b, best.sym_a + best.sym_b
        merged = F.aggregate(
            F.col("syms"),
            F.expr("array()").cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        words = persist_once(words.withColumn("syms", merged))

    return spark.createDataFrame(
        merges, "step long, sym_a string, sym_b string, pair_count long"
    ).orderBy("step")


def _bpe_stage_sql(step: int) -> str:
    """pairs/best/fold CTEs for one merge step over w{step-1} → w{step}."""
    prev = f"w{step - 1}"
    return f"""
p{step} AS (
  SELECT syms[i] AS sym_a, syms[i + 1] AS sym_b,
    CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM {prev}, UNNEST(range(1, len(syms))) AS t(i)
  GROUP BY 1, 2
),
b{step} AS (
  SELECT sym_a, sym_b, pair_count FROM p{step}
  ORDER BY pair_count DESC, sym_a, sym_b LIMIT 1
),
walk{step} AS (
  SELECT word, freq, syms, sym_a, sym_b, 1 AS i,
    [syms[1]] AS acc
  FROM {prev}, b{step}
  UNION ALL
  SELECT word, freq, syms, sym_a, sym_b, i + 1,
    CASE WHEN acc[len(acc)] = sym_a AND syms[i + 1] = sym_b
         THEN acc[1:len(acc) - 1] || [sym_a || sym_b]
         ELSE acc || [syms[i + 1]] END
  FROM walk{step} WHERE i < len(syms)
),
w{step} AS (
  SELECT word, freq, acc AS syms FROM walk{step} WHERE i = len(syms)
)"""


TEXT_BPE_SQL = (
    """
WITH RECURSIVE w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
    [substring(word, i, 1) for i in range(1, length(word) + 1)] AS syms
  FROM (
    SELECT UNNEST(string_split(text, ' ')) AS word
    FROM documents WHERE text IS NOT NULL
  ) WHERE length(word) > 0
  GROUP BY word
),"""
    + ",".join(_bpe_stage_sql(s) for s in range(1, _BPE_STEPS + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({s} AS BIGINT) AS step, sym_a, sym_b, pair_count"
        f" FROM b{s}"
        for s in range(1, _BPE_STEPS + 1)
    )
    + "\nORDER BY step"
)


register("emb_matryoshka_recall", emb_matryoshka_recall, EMB_MRL_SQL)
# ---------------------------------------------------------------------------
# SymSpell symmetric-delete fuzzy join
# ---------------------------------------------------------------------------
def customer_symspell_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance-1 customer-name pairs via symmetric-delete blocking.

    The SymSpell trick: two strings within edit distance 1 always share a
    key in {w} ∪ del1(w) (delete each single character), so the fuzzy
    join becomes an equi-join on generated delete keys — never an
    all-pairs Levenshtein.  Candidates sharing a key are deduped and
    verified with the real (JVM) edit distance.  This is the standard
    record-linkage shape at scale: keys fan out ×(len+1), the join
    shuffles only (key, id, name), and verification touches candidates
    only.

    Output: pairs grouped by the first differing character position
    (−1 = length-changing edit), with the pair count per position.
    """
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    keys = cust.select(
        "c_custkey",
        "c_name",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("c_name")),
                    F.transform(
                        F.sequence(F.lit(1), F.length("c_name")),
                        lambda i: F.concat(
                            F.col("c_name").substr(F.lit(1), i - 1),
                            F.col("c_name").substr(
                                i + 1, F.length("c_name")
                            ),
                        ),
                    ),
                )
            )
        ).alias("key"),
    )
    from kukur_spark.operators.dedup import _band_candidates

    # the key self-join routes through the shared guarded candidate
    # primitive: a giant identical-name family (the classic record-
    # linkage skew) sub-splits instead of forming one n²/2-pair task.
    # Contract note: above the cap the per-position counts become a
    # bounded-recall lower bound of the oracle's exact all-pairs count
    # (single band, no other-band rescue); below it, including every
    # oracle-gate SF, they are exact
    # persist the delete-key table (round 10): _band_candidates reads it
    # three times (skew sample + both self-join sides), and the key
    # explode is the expensive subtree — same signature-cache pattern
    # the minhash paths already use.  The skew-guard estimate stays on
    # the engage side at every scale here (bound 35.8k ≫ the 5.8k skip
    # threshold cold; cache-inflated warm), so no stats shadow needed.
    banded = persist_once(
        keys.select(
            F.col("c_custkey").alias("id"),
            F.lit(0).alias("band"),
            F.xxhash64("key").alias("bucket"),
            F.col("c_name"),
        )
    )
    cand = (
        _band_candidates(banded, carry=("c_name",))
        .select(
            "id_a",
            "id_b",
            F.col("c_name_a").alias("name_a"),
            F.col("c_name_b").alias("name_b"),
        )
        # threshold form (Spark 3.5+): banded early-exit DP, -1 when the
        # distance exceeds 1 — `== 1` selects the identical row set as
        # the unbounded form at a fraction of the per-pair cost
        .filter(F.levenshtein("name_a", "name_b", 1) == 1)
    )
    diffs = F.filter(
        F.sequence(F.lit(1), F.length("name_a")),
        lambda i: F.col("name_a").substr(i, F.lit(1))
        != F.col("name_b").substr(i, F.lit(1)),
    )
    return (
        cand.select(
            F.when(
                F.length("name_a") == F.length("name_b"),
                F.element_at(diffs, 1),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("diff_pos")
        )
        .groupBy("diff_pos")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("diff_pos")
    )


CUSTOMER_SYMSPELL_SQL = """
WITH keyed AS (
  SELECT c_custkey, c_name, UNNEST(list_distinct(
    [c_name] ||
    [substring(c_name, 1, i - 1) || substring(c_name, i + 1, length(c_name))
     for i in range(1, length(c_name) + 1)])) AS key
  FROM customer
),
cand AS (
  SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b,
    a.c_name AS name_a, b.c_name AS name_b
  FROM keyed a JOIN keyed b ON a.key = b.key AND a.c_custkey < b.c_custkey
),
verified AS (
  SELECT *,
    CASE WHEN length(name_a) = length(name_b)
         THEN list_filter(range(1, length(name_a) + 1),
                i -> substring(name_a, i, 1) <> substring(name_b, i, 1))[1]
         ELSE -1 END AS diff_pos
  FROM cand WHERE levenshtein(name_a, name_b) = 1
)
SELECT CAST(diff_pos AS BIGINT) AS diff_pos,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM verified GROUP BY diff_pos ORDER BY diff_pos
"""


register("text_bpe_merge_steps", text_bpe_merge_steps, TEXT_BPE_SQL)
# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test
# ---------------------------------------------------------------------------
_KS_SRC_A = "src0"
_KS_SRC_B = "src1"


def docs_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample KS statistic between two sources' length
    distributions.

    The corpus-drift detector: D = sup_x |F_a(x) − F_b(x)| over the
    empirical CDFs, evaluated at every distinct value.  Everything is
    integer-exact: per-value counts (one keyed aggregate), global
    running counts via :func:`operators.scale.distributed_prefix_sum`
    (no single-task window), and the sup compares
    |cum_a·n_b − cum_b·n_a| in DECIMAL(38,0) — cross-multiplied so no
    division happens before the final ppm.  Output: one row with the
    sample sizes, D in ppm, and the smallest value attaining it.
    """
    from kukur_spark.operators.scale import distributed_prefix_sum

    docs = load_table(spark, sf, "documents").filter(
        F.col("source").isin(_KS_SRC_A, _KS_SRC_B)
    )
    per_value = docs.groupBy(F.col("n_chars").alias("value")).agg(
        F.sum(F.when(F.col("source") == _KS_SRC_A, 1).otherwise(0)).alias(
            "cnt_a"
        ),
        F.sum(F.when(F.col("source") == _KS_SRC_B, 1).otherwise(0)).alias(
            "cnt_b"
        ),
    )
    cum = distributed_prefix_sum(per_value, ["value"], ["cnt_a", "cnt_b"])
    totals = cum.agg(
        F.sum("cnt_a").alias("n_a"), F.sum("cnt_b").alias("n_b")
    )
    d = F.abs(
        F.col("cnt_a_cum").cast("decimal(38,0)") * F.col("n_b")
        - F.col("cnt_b_cum").cast("decimal(38,0)") * F.col("n_a")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "value",
            "n_a",
            "n_b",
            d.alias("d_num"),
        )
        .orderBy(F.col("d_num").desc(), F.col("value"))
        .limit(1)
        .select(
            "n_a",
            "n_b",
            F.expr(
                "CAST(d_num * 1000000 div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
                " AS BIGINT)"
            ).alias("ks_ppm"),
            F.col("value").alias("ks_at_value"),
        )
    )


DOCS_KS_SQL = f"""
WITH both_sides AS (
  SELECT n_chars AS value,
    CASE WHEN source = '{_KS_SRC_A}' THEN 1 ELSE 0 END AS ia,
    CASE WHEN source = '{_KS_SRC_B}' THEN 1 ELSE 0 END AS ib
  FROM documents WHERE source IN ('{_KS_SRC_A}', '{_KS_SRC_B}')
),
per_value AS (
  SELECT value, SUM(ia) AS cnt_a, SUM(ib) AS cnt_b
  FROM both_sides GROUP BY value
),
cum AS (
  SELECT value,
    SUM(cnt_a) OVER (ORDER BY value) AS cum_a,
    SUM(cnt_b) OVER (ORDER BY value) AS cum_b
  FROM per_value
),
totals AS (SELECT SUM(ia) AS n_a, SUM(ib) AS n_b FROM both_sides),
scored AS (
  SELECT value, n_a, n_b,
    abs(CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a) AS d_num
  FROM cum, totals
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(d_num * 1000000 // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_ppm,
  value AS ks_at_value
FROM scored
ORDER BY d_num DESC, value
LIMIT 1
"""


register(
    "customer_symspell_pairs", customer_symspell_pairs, CUSTOMER_SYMSPELL_SQL
)
# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch set operations
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_SPACE = 1 << 60  # md5_long_sql yields 60-bit non-negative hashes


def events_kmv_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-dataset user-overlap estimates from mergeable KMV sketches.

    The 100 TB question "how much do these datasets overlap?" without an
    exact distinct-intersection join: keep the k smallest hash values
    per side (a KMV sketch — one keyed top-k, mergeable by taking the k
    smallest of the union of two sketches), estimate each cardinality as
    (k-1)*H/theta_k, and the intersection as (m/k_u)*est_union where m
    counts union-sketch members present in both sides' sketches.
    Everything is md5-deterministic integer math, so the estimates
    themselves are oracle-checkable — and the output carries the exact
    counts next to the estimates (the engine measuring its own sketch
    error, same convention as emb_ann_recall / minhash_estimate_error).
    At scale only the first distinct + keyed top-k touch data; sketches
    are k rows per side and every later join broadcasts them.
    """
    from kukur_spark.operators.dedup import md5_long_sql

    events = load_table(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    hashed = (
        events.select(F.col("event_type").alias("etype"), "user_id")
        .distinct()
        .select(
            "etype",
            "user_id",
            F.expr(md5_long_sql("CAST(user_id AS STRING)")).alias("h"),
        )
    )
    w_side = Window.partitionBy("etype").orderBy("h")
    kmv = (
        hashed.withColumn("rnk", F.row_number().over(w_side))
        .filter(F.col("rnk") <= _KMV_K)
        .select("etype", "h")
    )
    side_stats = hashed.groupBy("etype").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    kmv_theta = kmv.groupBy("etype").agg(
        F.max("h").alias("theta"), F.count(F.lit(1)).alias("k_n")
    )

    types = hashed.select("etype").distinct().limit(4096)
    pairs = types.select(F.col("etype").alias("ta")).join(
        F.broadcast(types.select(F.col("etype").alias("tb"))),
        F.col("ta") < F.col("tb"),
    )
    # union-merge the two sketches: pair x member rows, dedup h, keep the
    # k smallest; n_sides tells membership in both sketches
    members = pairs.join(
        F.broadcast(kmv),
        (kmv.etype == F.col("ta")) | (kmv.etype == F.col("tb")),
    )
    per_h = members.groupBy("ta", "tb", "h").agg(
        F.countDistinct("etype").alias("n_sides")
    )
    w_pair = Window.partitionBy("ta", "tb").orderBy("h")
    union_kmv = (
        per_h.withColumn("rnk", F.row_number().over(w_pair))
        .filter(F.col("rnk") <= _KMV_K)
        .groupBy("ta", "tb")
        .agg(
            F.max("h").alias("theta_u"),
            F.count(F.lit(1)).alias("k_u"),
            F.sum(F.when(F.col("n_sides") == 2, 1).otherwise(0)).alias("m"),
        )
    )
    ha = hashed.select(F.col("etype").alias("ta"), "user_id")
    hb = hashed.select(F.col("etype").alias("tb"), "user_id")
    exact_inter = (
        ha.join(hb, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )

    def _rn(frame, **renames):
        for old, new_name in renames.items():
            frame = frame.withColumnRenamed(old, new_name)
        return frame

    out = (
        union_kmv.join(
            F.broadcast(_rn(kmv_theta, etype="ta", theta="theta_a", k_n="k_a")),
            "ta",
        )
        .join(
            F.broadcast(_rn(kmv_theta, etype="tb", theta="theta_b", k_n="k_b")),
            "tb",
        )
        .join(F.broadcast(_rn(side_stats, etype="ta", exact_n="exact_a")), "ta")
        .join(F.broadcast(_rn(side_stats, etype="tb", exact_n="exact_b")), "tb")
        .join(F.broadcast(exact_inter), ["ta", "tb"], "left")
    )

    def _est(k_col: str, theta_col: str) -> str:
        return (
            f"CAST((CAST({k_col} AS DECIMAL(38,0)) - 1) * {_KMV_SPACE}"
            f" div {theta_col} AS BIGINT)"
        )

    return (
        out.withColumn("est_union", F.expr(_est("k_u", "theta_u")))
        .select(
            "ta",
            "tb",
            "exact_a",
            "exact_b",
            F.coalesce(F.col("exact_inter"), F.lit(0)).alias("exact_inter"),
            F.expr(_est("k_a", "theta_a")).alias("est_a"),
            F.expr(_est("k_b", "theta_b")).alias("est_b"),
            F.expr(
                "CAST(CAST(m AS DECIMAL(38,0)) * est_union div k_u AS BIGINT)"
            ).alias("est_inter"),
        )
        .orderBy("ta", "tb")
    )


EVENTS_KMV_SQL = f"""
WITH h2 AS (
  SELECT etype, user_id,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM (
    SELECT DISTINCT event_type AS etype, user_id FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  )
),
kmv AS (
  SELECT etype, h FROM (
    SELECT etype, h,
      ROW_NUMBER() OVER (PARTITION BY etype ORDER BY h) AS rnk
    FROM h2
  ) WHERE rnk <= {_KMV_K}
),
side_stats AS (
  SELECT etype, CAST(COUNT(*) AS BIGINT) AS exact_n FROM h2 GROUP BY 1
),
kmv_theta AS (
  SELECT etype, MAX(h) AS theta, CAST(COUNT(*) AS BIGINT) AS k_n
  FROM kmv GROUP BY 1
),
pairs AS (
  SELECT a.etype AS ta, b.etype AS tb
  FROM (SELECT DISTINCT etype FROM h2) a
  JOIN (SELECT DISTINCT etype FROM h2) b ON a.etype < b.etype
),
per_h AS (
  SELECT ta, tb, h, COUNT(DISTINCT kmv.etype) AS n_sides
  FROM pairs JOIN kmv ON kmv.etype = ta OR kmv.etype = tb
  GROUP BY 1, 2, 3
),
union_kmv AS (
  SELECT ta, tb, MAX(h) AS theta_u, CAST(COUNT(*) AS BIGINT) AS k_u,
    CAST(SUM(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rnk
    FROM per_h
  ) WHERE rnk <= {_KMV_K}
  GROUP BY 1, 2
),
exact_i AS (
  SELECT a.etype AS ta, b.etype AS tb, CAST(COUNT(*) AS BIGINT) AS exact_inter
  FROM h2 a JOIN h2 b ON a.user_id = b.user_id AND a.etype < b.etype
  GROUP BY 1, 2
)
SELECT u.ta, u.tb, sa.exact_n AS exact_a, sb.exact_n AS exact_b,
  CAST(COALESCE(e.exact_inter, 0) AS BIGINT) AS exact_inter,
  CAST((CAST(ka.k_n AS HUGEINT) - 1) * {_KMV_SPACE} // ka.theta AS BIGINT)
    AS est_a,
  CAST((CAST(kb.k_n AS HUGEINT) - 1) * {_KMV_SPACE} // kb.theta AS BIGINT)
    AS est_b,
  CAST(CAST(u.m AS HUGEINT)
    * ((CAST(u.k_u AS HUGEINT) - 1) * {_KMV_SPACE} // u.theta_u)
    // u.k_u AS BIGINT) AS est_inter
FROM union_kmv u
JOIN kmv_theta ka ON ka.etype = u.ta
JOIN kmv_theta kb ON kb.etype = u.tb
JOIN side_stats sa ON sa.etype = u.ta
JOIN side_stats sb ON sb.etype = u.tb
LEFT JOIN exact_i e ON e.ta = u.ta AND e.tb = u.tb
ORDER BY u.ta, u.tb
"""


register("docs_ks_drift", docs_ks_drift, DOCS_KS_SQL)
register("events_kmv_overlap", events_kmv_overlap, EVENTS_KMV_SQL)
register("docs_pack_bestfit_eval", docs_pack_bestfit_eval, PACK_BESTFIT_SQL)
register("ts_theilsen_trend", ts_theilsen_trend, TS_THEILSEN_SQL)
register("ts_mann_kendall", ts_mann_kendall, TS_MANN_KENDALL_SQL)
register("ts_pettitt_change", ts_pettitt_change, TS_PETTITT_SQL)
register("ts_trimmed_mean", ts_trimmed_mean, TS_TRIMMED_SQL)
register("orders_pareto_abc", orders_pareto_abc, ORDERS_ABC_SQL)
register("docs_qq_deciles", docs_qq_deciles, DOCS_QQ_SQL)
register("text_burstiness", text_burstiness, TEXT_BURSTINESS_SQL)
register("events_rank_suite", events_rank_suite, EVENTS_RANK_SQL)
register("docs_quota_allocation", docs_quota_allocation, DOCS_QUOTA_SQL)
register(
    "docs_dedup_survivorship", docs_dedup_survivorship, _survivorship_sql()
)
register("ts_acf_multi", ts_acf_multi, TS_ACF_SQL)
register("orders_cohort_ltv", orders_cohort_ltv, ORDERS_LTV_SQL)

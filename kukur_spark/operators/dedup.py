"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All implemented with built-in column expressions (xxhash64, higher-order
array functions) — no Python UDFs — so the hot path stays inside
whole-stage codegen and scales to 100 TB document tables:

- **exact**: one hash-aggregate on a content fingerprint;
- **MinHash+LSH**: signature = per-doc array projection (map-side only),
  banding → explode → equi-join on (band, band_hash) — the only shuffle is
  the bucket join, whose keys are the LSH buckets themselves;
- **SimHash**: 64-bit signature via one ``aggregate`` fold over tokens,
  candidate pairs from 16-bit band buckets (hamming ≤ 3 within 4 bands is
  guaranteed candidate recall), verified with ``bit_count(xor)``;
- **n-gram Jaccard**: exact set similarity on blocked pairs.

Recall contract under the bucket-skew cap (``_band_candidates``): every
completeness guarantee above — the SimHash pigeonhole, the md5 twins'
bit-for-bit oracle equality — holds whenever no (band, bucket) exceeds
``_LSH_BUCKET_CAP`` (4096), which is every oracle-gate SF and any
corpus without a >4096-member near-dup family.  Above the cap, the
guarantees soften to bounded recall by design: the exact candidate set
IS the n²/2 blow-up the cap exists to prevent.  Pass ``max_bucket=0``
to recover exactness at your own straggler risk.
"""

from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kukur_spark.io import persist_once
from kukur_spark.plancache import PLANS

# Per-(band, bucket) membership bound for the LSH self-join; buckets
# larger than this are sub-split so no single task materializes more
# than ~cap² candidate pairs.  0 disables (exact all-pairs per bucket).
_LSH_BUCKET_CAP = 4096

# Hard absolute ceiling on the toy-scale guard skip: the skip trusts
# Catalyst's sizeInBytes-derived row estimate, and an optimizer
# undercount (heavily compressed source, optimistic filter selectivity)
# would silently disable the skew guard at real scale — reintroducing
# the n²/2 blow-up.  Never skip when the estimated banded row count
# exceeds this, however favorable the per-bucket bound looks.
_LSH_SKIP_ROW_CEILING = 4000000

_LOG = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame, text_column: str = "text", id_column: str = "doc_id"
) -> DataFrame:
    """Group byte-identical documents; keep the smallest id per group.

    Returns ``fingerprint, keep_id, dup_count`` — one row per distinct
    content. A single hash aggregate: partial map-side combine makes the
    shuffle carry one row per distinct fingerprint per partition.
    """
    return (
        df.select(F.md5(F.col(text_column)).alias("fingerprint"), F.col(id_column))
        .groupBy("fingerprint")
        .agg(
            F.min(id_column).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# shared LSH scaffolding (used by both the xxhash64 fast paths and their
# md5 oracle twins, so the two can never drift structurally)
# ---------------------------------------------------------------------------
def _spread(df: DataFrame, id_column: str, partitions: int = 0) -> DataFrame:
    """Repartition by id before a CPU-heavy signature projection: a
    single-file corpus arrives as one scan task (no-op at real scale
    where the scan is already many tasks)."""
    if partitions <= 0:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(partitions, F.col(id_column))


def _estimated_bucket_bound(banded: DataFrame, bands: int) -> Optional[int]:
    """Free (no job) upper-bound estimate of any single (band, bucket)
    membership, from Catalyst plan statistics: a doc appears once per
    band, so no bucket can exceed rows/bands.

    ``sizeInBytes // 4`` deliberately *over*-estimates the row count of a
    skinny (id, band, bucket) projection (measured ~4.3 B/row for
    parquet-derived plans at sf0.01/0.1) so the guard errs toward
    engaging.  Plans without a usable estimate — local relations report
    ``Long.MaxValue`` — return None and the guard always engages.
    """
    try:
        stats = banded._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            rows = int(str(rc.get()))
        else:
            size = int(stats.sizeInBytes())
            if size >= (1 << 62):  # unknown / defaulted statistic
                return None
            rows = size // 4
        return max(1, rows // max(1, bands))
    except Exception:  # py4j / private-API drift: fail toward guarding
        return None


# The shadow-plan row bound is a pure function of the (immutable) source
# frame, the shadow kind and the band count, and re-deriving it costs
# ~0.13 s of py4j/analysis per LSH-family construction (round 10), so it
# is cached with the source frame itself as the fingerprint (DataFrames
# compare by identity; the entry holds the frame, so its id() stays
# unique).  Only the estimate is cached, never a query result.


def _memoized_bound(src: DataFrame, kind: str, id_column: str, bands: int):
    """Bucket bound of ``src``'s ``kind`` ("banded" or "simhash") stats
    shadow, from the plan cache."""
    shadow = _stats_shadow_banded if kind == "banded" else _stats_shadow_simhash
    return PLANS.get(
        ("bucket_bound", kind, id_column, bands, id(src)),
        src,
        lambda: _estimated_bucket_bound(shadow(src, id_column, bands), bands),
    )


def _stats_shadow_banded(
    df: DataFrame, id_column: str, bands: int
) -> DataFrame:
    """Skinny structural twin of a banded plan, used ONLY for the
    skew-guard row estimate.

    The real banded lineage runs through ``persist_once``: once the cache
    materializes, Catalyst's estimate comes from the fat InMemoryRelation
    (hs + sig arrays, ~550 B/row) instead of the skinny parquet-derived
    projection, inflating the bound ~16× (measured 5 308 cold vs 84 786
    warm at sf0.1) — so the toy-scale skip engaged on the first run of a
    session and then silently de-engaged on every later run, re-paying
    the ~0.45 s detection jobs the skip exists to elide.  This twin has
    the same (id, band, bucket) output width, the same explode
    multiplicity and the same scan bottom, but a deliberately different
    projection chain, so the CacheManager can never substitute the cache
    into it: its estimate is the stable parquet-derived one at any point
    in the session.  It is never executed.
    """
    structs = ", ".join(
        f"struct({b} AS band, xxhash64(id, {b}) AS bucket)"
        for b in range(bands)
    )
    return (
        _spread(df, id_column)
        .selectExpr(f"`{id_column}` AS id")
        .selectExpr("id", f"explode(array({structs})) AS bb")
        .select("id", "bb.band", "bb.bucket")
    )


def _stats_shadow_simhash(
    df: DataFrame, id_column: str, bands: int
) -> DataFrame:
    """Skinny structural twin of a simhash-banded plan for the skew-guard
    estimate — same rationale as :func:`_stats_shadow_banded`, plus the
    carried ``sig`` column so the row width matches the real banded
    table.  Shared by the xxhash64 and md5 simhash twins: both get the
    SAME estimate at any cache state, so their guard decisions (and
    hence physical plan shapes, which ``tests/test_twin_plans.py`` pins
    against each other) can never diverge.  Never executed."""
    structs = ", ".join(
        f"struct({b} AS band, xxhash64(id, {b}) AS bucket)"
        for b in range(bands)
    )
    return (
        _spread(df, id_column)
        .selectExpr(f"`{id_column}` AS id")
        .selectExpr("id", "xxhash64(id, -1) AS sig")
        .selectExpr("id", "sig", f"explode(array({structs})) AS bb")
        .select("id", "sig", "bb.band", "bb.bucket")
    )


_BOUND_UNSET = object()


def _guard_elided(bound: Optional[int], max_bucket: int, bands: int) -> bool:
    """THE skew-guard skip decision (shared by :func:`_band_candidates`
    and the fused-SQL LSH constructions, so the two paths can never
    diverge): detection is elided when the cap is disabled, or when even
    the degenerate corpus — every doc of one band in ONE bucket — stays
    inside the cap's pair budget (bound² ≤ 2·cap², see
    :func:`_band_candidates`) subject to the absolute row ceiling
    backstop."""
    if max_bucket <= 0:
        return True
    return (
        bound is not None
        and bound * bound <= 2 * max_bucket * max_bucket
        and bound * max(1, bands) <= _LSH_SKIP_ROW_CEILING
    )


def _band_candidates(
    banded: DataFrame,
    carry: tuple = (),
    max_bucket: Optional[int] = None,
    bands: int = 1,
    stats_bound=_BOUND_UNSET,
) -> DataFrame:
    """Distinct candidate pairs from a banded table: self-equi-join on
    (band, bucket) with ``id_a < id_b``. ``carry`` columns are kept from
    each side as ``<col>_a`` / ``<col>_b``.

    **Skew safety**: one giant near-dup family (n members sharing a
    bucket) would otherwise put n²/2 pairs in a single join task — at
    corpus scale that is both a straggler and an output blow-up nothing
    downstream can absorb.  Buckets whose membership exceeds
    ``max_bucket`` (default ``_LSH_BUCKET_CAP``, 4096; 0
    disables) are deterministically sub-split by ``xxhash64(id)`` into
    ceil(n/cap) sub-buckets, bounding every join task to ~cap² pairs.
    Cross-sub-bucket pairs inside an over-full bucket are not emitted —
    an explicit recall trade documented here because (a) every other
    band gives the pair an independent chance, and (b) a family that
    large still chains into one connected component through the
    ~n·cap/2 pairs that survive, which is what dedup consumes.

    Mechanics: over-full buckets are detected from a seeded Bernoulli
    sample at rate ``min(1, 64/cap)`` — a bucket at the 4096 default cap
    shows ~64 sampled members, one at 2×cap ~128, so missing anything
    over 2×cap is a e^-16 Chernoff tail; a missed borderline bucket
    costs at most a ~(2·cap)²/2-pair task, the same order as the bound
    itself.  The sampled counts (scaled back by 1/rate) are filtered to
    ONLY over-full buckets — in practice a handful of pathological
    families — and broadcast-left-joined back.  The common (no-skew)
    case thus pays a ~64/cap-rate aggregate and an always-miss broadcast
    probe — a fixed extra-job cost (~0.3 s) that only matters at toy
    scale, where it is now skipped entirely: when Catalyst's free size
    estimate bounds every possible bucket inside the cap's own pair
    budget (``_estimated_bucket_bound``), detection cannot change any
    task bound and is elided (measured: skip ≡ unguarded wall time at
    sf0.1; r7 paid ~+0.3 s).  At real scale the estimate exceeds the
    budget and the guard always engages — the 100× probe measured the
    capped plan FASTER than the pre-cap baseline (35.6 s vs 38.7 s; see
    PERFORMANCE.md round 7) once the in-place bucket rewrite kept the
    shuffle width unchanged.
    Exact per-bucket counts cost ~55% and a window count ~90% (its
    sort+exchange subplan duplicates across both self-join sides) —
    both rejected.  Small caps (≤ 64) saturate the rate at 1.0: counts
    are exact and deterministic for tests.
    """
    if max_bucket is None:
        max_bucket = _LSH_BUCKET_CAP
    if max_bucket > 0:
        # Toy-scale fast path (VERDICT r7 #2): the guard exists to bound a
        # join task to ~cap² pairs.  When even the degenerate corpus —
        # every doc of one band in ONE bucket — stays inside that budget
        # (bound²/2 ≤ cap² ⇔ bound ≤ cap·√2), detection cannot change any
        # task bound and its fixed sample+broadcast job is pure overhead:
        # skip it.  ``bands`` tightens the bound for callers that band
        # (a doc appears once per band); the default 1 is conservative.
        # Skipping is correctness-neutral-or-better: the unguarded plan is
        # the EXACT candidate set.
        bound = (
            stats_bound
            if stats_bound is not _BOUND_UNSET
            else _estimated_bucket_bound(banded, bands)
        )
        # belt-and-braces inside _guard_elided: the bound derives from an
        # optimizer size estimate; an absolute row ceiling caps what the
        # skip will ever trust so an undercounting plan cannot silently
        # disable the guard at real scale
        if _guard_elided(bound, max_bucket, bands):
            _LOG.info(
                "LSH skew guard elided: estimated bucket bound %d within "
                "cap %d pair budget",
                bound,
                max_bucket,
            )
            max_bucket = 0
    if max_bucket > 0:
        rate = min(1.0, 64.0 / max_bucket)
        sampled = banded if rate >= 1.0 else banded.sample(rate, seed=42)
        over = (
            sampled.groupBy("band", "bucket")
            .agg((F.count(F.lit(1)) / F.lit(rate)).cast("long").alias("_n"))
            .filter(F.col("_n") > max_bucket)
        )
        # rewrite the bucket in place for over-full rows instead of
        # adding a sub-bucket column: the self-join shuffle keeps its
        # exact pre-cap width (band, bucket, id — measured +25% wall at
        # 100× data from one extra long riding both shuffle sides).  A
        # 64-bit rewrite colliding with a natural bucket only ADDS a
        # candidate pair, which the exact verify downstream discards.
        banded = (
            banded.join(F.broadcast(over), ["band", "bucket"], "left")
            .withColumn(
                "bucket",
                F.when(
                    F.col("_n").isNotNull(),
                    F.xxhash64(
                        F.col("bucket"),
                        F.pmod(
                            F.xxhash64("id", F.lit(0x5CA1AB1E)),
                            F.ceil(
                                F.col("_n") / F.lit(max_bucket)
                            ).cast("long"),
                        ),
                    ),
                ).otherwise(F.col("bucket")),
            )
            .drop("_n")
        )
    pairs = banded.alias("a").join(
        banded.alias("b"),
        on=[
            F.col("a.band") == F.col("b.band"),
            F.col("a.bucket") == F.col("b.bucket"),
            F.col("a.id") < F.col("b.id"),
        ],
    )
    cols = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")] + [
        c for name in carry
        for c in (
            F.col(f"a.{name}").alias(f"{name}_a"),
            F.col(f"b.{name}").alias(f"{name}_b"),
        )
    ]
    return pairs.select(*cols).dropDuplicates(["id_a", "id_b"])


def _simhash_banded(
    sig: DataFrame, bands: int, bits_per_band: int
) -> DataFrame:
    """Split an (id, sig) bit-signature table into per-band chunk buckets:
    any pair within hamming distance ``bands - 1`` shares at least one
    exact band (pigeonhole)."""
    mask = (1 << bits_per_band) - 1
    return sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def _join_hash_sets(pairs: DataFrame, sets: DataFrame) -> DataFrame:
    """Join each candidate side back to its (id, hs) hashed-shingle set —
    only surviving candidates pay the array transfer."""
    return pairs.join(
        sets.withColumnRenamed("id", "id_a").withColumnRenamed("hs", "hs_a"),
        "id_a",
    ).join(
        sets.withColumnRenamed("id", "id_b").withColumnRenamed("hs", "hs_b"),
        "id_b",
    )


# ---------------------------------------------------------------------------
# shingling + MinHash
#
# Each helper is a ``*_sql`` fragment builder, composed into ONE
# ``F.expr``/``selectExpr``/``spark.sql`` string by its callers: building
# a 32-permutation signature out of pyspark Column objects cost ~2 600
# py4j round trips (~0.7 s of pure driver latency per query construction,
# measured round 10); one SQL string is a single round trip.
# ---------------------------------------------------------------------------
def shingles_sql(text_sql: str, k: int = 3) -> str:
    """SQL fragment: distinct k-token shingles of a whitespace-tokenized
    text."""
    toks = f"split({text_sql}, ' ')"
    return (
        f"array_distinct(transform("
        f"sequence(0, greatest(size({toks}) - {k}, 0)), "
        f"i -> array_join(slice({toks}, i + 1, {k}), ' ')))"
    )


def md5_long_sql(x_sql: str) -> str:
    """SQL fragment: first 60 bits of md5 as a non-negative bigint.

    md5 is the one hash both Spark and DuckDB implement identically, which
    makes the md5 LSH variant's full pipeline checkable against a SQL
    oracle (the xxhash64 fast path is not expressible outside Spark)."""
    return f"cast(conv(substring(md5({x_sql}), 1, 15), 16, 10) as bigint)"


def _token_hashes_sql(text_sql: str) -> str:
    """SQL fragment: xxhash64 of every space-split token."""
    return f"transform(split({text_sql}, ' '), t -> xxhash64(t))"


def _combine_shingle_hashes_sql(th_col: str, k: int = 3) -> str:
    """SQL fragment: distinct xxhash64 of each k-token shingle (the whole
    token array when shorter than ``k``)."""
    gram = ", ".join(f"element_at({th_col}, i + {j})" for j in range(k))
    return (
        f"array_distinct(CASE WHEN size({th_col}) >= {k} THEN "
        f"transform(sequence(1, size({th_col}) - {k - 1}), "
        f"i -> xxhash64({gram})) "
        f"ELSE array(xxhash64({th_col})) END)"
    )


def _minhash_signature_sql(hs_col: str, num_hashes: int = 32) -> str:
    """SQL fragment: ``num_hashes``-long MinHash signature, the minimum of
    ``xxhash64(h, j)`` over the shingle hashes for each permutation ``j``.

    Permutation index ``j`` is a ``sequence`` lambda variable instead of
    the former ``num_hashes`` unrolled literal copies: ``xxhash64(h, j)``
    hashes the same INT value either way (sequence elements and SQL
    integer literals are both IntegerType), so every signature value is
    identical — pinned by ``tests/test_dedup_fragments.py`` — while the
    expression text (and with it per-construction analysis cost, ~32×
    this fragment per LSH query) shrinks by that factor."""
    return (
        f"transform(sequence(0, {num_hashes - 1}), "
        f"j -> array_min(transform({hs_col}, h -> xxhash64(h, j))))"
    )


# canonical banding parameters for the md5-LSH *edge generator* used by
# the dedup cluster/kept/recall workloads (2 rows/band: P(candidate) =
# 1-(1-s²)⁸ for shingle-Jaccard s) — one definition so the Spark plans
# and every DuckDB oracle derive from the same scheme
EDGE_HASHES = 16
EDGE_BANDS = 8


def minhash_lsh_pairs(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    partitions: int = 0,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding, verified exactly.

    Plan: project (id, signature, shingles) → explode ``bands`` band-hashes
    → self-equi-join on (band, band_hash) with id_a < id_b → distinct pairs
    → exact Jaccard on the shingle sets → filter by threshold.

    Returns ``id_a, id_b, jaccard``.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}) "
            "— a remainder would silently drop signature rows"
        )
    rows_per_band = num_hashes // bands
    spark = df.sparkSession
    if partitions <= 0:
        partitions = spark.sparkContext.defaultParallelism
    # hashed shingle sets: all downstream set math runs on longs, no
    # shingle strings are ever materialized; token hashes land in a real
    # column first so the k-gram combine indexes them O(1).  Built as ONE
    # parameterized spark.sql statement — the Column/selectExpr chain of
    # the same tree cost ~0.18 s of driver latency per construction
    # (round 11; round 10's fragment form had already cut ~0.5 s).
    base_sql = f"""
SELECT id, hs, {_minhash_signature_sql('hs', num_hashes)} AS sig
FROM (
  SELECT id, {_combine_shingle_hashes_sql('th', shingle_size)} AS hs
  FROM (
    SELECT `{id_column}` AS id,
           {_token_hashes_sql(f'`{text_column}`')} AS th
    FROM (SELECT /*+ REPARTITION({partitions}, `{id_column}`) */ *
          FROM {{src}})
  )
)
"""
    # feeds three plan branches (banding + both verification joins);
    # without persist the CPU-heavy projection runs three times.
    # The cache lives until session end / unpersist — long-lived
    # sessions running many queries should spark.catalog.clearCache()
    # between workloads (the oracle gate does).  The fused tail below
    # repeats the base SUBQUERY TEXT as a CTE instead of referencing the
    # cached handle: a re-parsed identical subquery canonicalizes equal
    # and substitutes the InMemoryRelation at every occurrence, while a
    # cached DataFrame passed as a {param} gets wrapped in a fresh View
    # node that defeats the CacheManager lookup (measured on ts_lttb).
    base = persist_once(spark.sql(base_sql, src=df))
    # banding carries only (id, band, bucket) — 24 bytes/row through the
    # explode and the self-join shuffle, never the shingle arrays.  The
    # band loop is a sequence lambda (same bucket values as the former
    # per-band literal structs, parity-test-pinned; ~bands× less text)
    band_structs = (
        f"transform(sequence(0, {bands - 1}), b -> struct(b AS band, "
        f"xxhash64(array_join(transform("
        f"slice(sig, b * {rows_per_band} + 1, {rows_per_band}), "
        f"x -> cast(x AS string)), ','), b) AS bucket))"
    )
    bound = _memoized_bound(df, "banded", id_column, bands)
    if _guard_elided(bound, _LSH_BUCKET_CAP, bands):
        # one statement, one analysis pass; plan identical to the
        # unguarded Column path (plans/r11 + scripts/plan_diff.py).
        # |A∪B| = |A|+|B|−|A∩B| for the distinct hash sets: sizing a
        # materialized union array doubled the per-pair array work (r10).
        return spark.sql(
            f"""
WITH __base AS ({base_sql}),
__banded AS (
  SELECT id, bb.band AS band, bb.bucket AS bucket
  FROM (SELECT id, explode({band_structs}) AS bb FROM __base)
),
__pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM __banded a JOIN __banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)
SELECT id_a, id_b, jaccard
FROM (
  SELECT id_a, id_b,
         round(CAST(size(array_intersect(hs_a, hs_b)) AS DOUBLE)
               / (size(hs_a) + size(hs_b)
                  - size(array_intersect(hs_a, hs_b))), 6) AS jaccard
  FROM __pairs
  JOIN (SELECT id AS id_a, hs AS hs_a FROM __base) USING (id_a)
  JOIN (SELECT id AS id_b, hs AS hs_b FROM __base) USING (id_b)
)
WHERE jaccard >= {jaccard_threshold!r}D
""",
            src=df,
        )
    # skew-guard engaged (real scale): the Column path with the bucket
    # rewrite — construction latency is irrelevant beside the guarded run
    banded = base.selectExpr(
        "id", f"explode({band_structs}) AS bb"
    ).select("id", "bb.band", "bb.bucket")
    pairs = _band_candidates(banded, bands=bands, stats_bound=bound)
    # exact verification only for surviving candidates: join the hashed
    # sets back by id (candidate count << corpus for any sane banding)
    verified = _join_hash_sets(pairs, base.select("id", "hs"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    jaccard = inter.cast("double") / (
        F.size("hs_a") + F.size("hs_b") - inter
    )
    return (
        verified.withColumn("jaccard", F.round(jaccard, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash+LSH, md5 variant (cross-engine checkable)
# ---------------------------------------------------------------------------
def _md5_base(
    df: DataFrame,
    text_column: str,
    id_column: str,
    shingle_size: int,
    num_hashes: int,
) -> DataFrame:
    """(id, hs, sig) projection with md5-derived shingle hashes/minima.

    Built as SQL fragments — the Column-object form of the 16-permutation
    signature tree cost ~0.3 s of py4j driver latency per construction.
    The per-permutation salt ``'#' || j`` concatenates to the same string
    the former per-permutation ``'#{j}'`` literal produced (round 11:
    the permutation loop is a ``sequence`` lambda, shrinking the analyzed
    text ~16×; identical md5 inputs, oracle- and parity-test-pinned).
    """
    sig_mins = (
        f"transform(sequence(0, {num_hashes - 1}), j -> "
        "array_min(transform(sh, s -> "
        + md5_long_sql("concat(s, '#', cast(j AS string))")
        + ")))"
    )
    return (
        _spread(df, id_column)
        .selectExpr(
            f"`{id_column}` AS id",
            f"{shingles_sql(f'`{text_column}`', shingle_size)} AS sh",
        )
        .selectExpr(
            "id",
            f"array_distinct(transform(sh, s -> {md5_long_sql('s')})) AS hs",
            f"{sig_mins} AS sig",
        )
    )


def _md5_banded(
    base: DataFrame, bands: int, rows_per_band: int, carry: tuple = ()
) -> DataFrame:
    """(id, band, bucket) banding of an ``_md5_base`` signature table.

    ``carry`` columns ride along the explode (cheaper than joining them
    back onto the exploded table afterwards).  The band loop is a
    ``sequence`` lambda (round 11): ``'|' || b`` concatenates to the same
    string the former per-band ``'|{b}'`` literal did, so every bucket
    hash is identical (oracle- and parity-test-pinned) with ~``bands``×
    less expression text to analyze per construction."""
    row_refs = "".join(
        f", cast(element_at(sig, b * {rows_per_band} + {r + 1}) AS string)"
        for r in range(rows_per_band)
    )
    structs = (
        f"transform(sequence(0, {bands - 1}), b -> struct(b AS band, "
        + md5_long_sql(
            f"concat(concat_ws(','{row_refs}), '|', cast(b AS string))"
        )
        + " AS bucket))"
    )
    return base.selectExpr(
        "id", *[f"`{c}`" for c in carry], f"explode({structs}) AS bb"
    ).select("id", *carry, "bb.band", "bb.bucket")


def minhash_lsh_pairs_md5(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_ppm_threshold: int = 500_000,
) -> DataFrame:
    """MinHash banding with md5-derived hashes and integer-exact Jaccard.

    Same plan shape as :func:`minhash_lsh_pairs` (map-side signatures →
    skinny (id, band, bucket) self-join → exact verify on surviving
    candidates) but every hash is ``md5``-derived and the Jaccard is
    reported in exact parts-per-million, so DuckDB reproduces the result
    bit-for-bit. Returns ``id_a, id_b, jaccard_ppm``.

    Use :func:`minhash_lsh_pairs` in production — xxhash64 is ~5× cheaper
    than md5; this variant exists as correctness evidence for the pipeline.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    base = persist_once(
        _md5_base(df, text_column, id_column, shingle_size, num_hashes)
    )
    banded = _md5_banded(base, bands, rows_per_band)
    pairs = _band_candidates(
        banded,
        bands=bands,
        stats_bound=_memoized_bound(df, "banded", id_column, bands),
    )
    verified = _join_hash_sets(pairs, base.select("id", "hs"))
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
    union = F.size("hs_a").cast("long") + F.size("hs_b") - inter
    return (
        verified.withColumn("inter", inter)
        .withColumn("uni", union)
        .withColumn("jaccard_ppm", F.expr("inter * 1000000L div uni"))
        .filter(F.col("jaccard_ppm") >= jaccard_ppm_threshold)
        .select("id_a", "id_b", "jaccard_ppm")
    )


def minhash_incremental_md5(
    df: DataFrame,
    new_predicate: Column,
    text_column: str = "text",
    id_column: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_ppm_threshold: int = 500_000,
) -> DataFrame:
    """Incremental near-dup: the new batch checks ONLY against history.

    The realistic 100 TB dedup shape — yesterday's corpus is already
    deduplicated and its (id, band, bucket) index persisted; today's
    batch computes signatures for its own rows and bucket-joins against
    the history index.  No new×new or history×history pairs are ever
    generated, so incremental cost ∝ batch × collision rate, not corpus².

    ``new_predicate`` splits the frame (True = new batch).  Returns one
    row per flagged new doc with its best-matching history doc:
    ``new_id, hist_id, jaccard_ppm`` (max ppm, ties to the smallest
    hist_id).

    Byte-identical texts are collapsed to a min-id representative
    WITHIN each side before banding (the family-quadratic candidate
    fix — the pre-collapse form exhausted execution memory at the
    1000× replication probe).  Exact: jaccard(n, h) depends only on
    texts, so every member of a history family scores identically and
    the argmax's min-id tie-break picks the representative anyway;
    new-side members inherit their representative's best match by
    re-expansion.  Sides collapse separately so a text present in both
    new and history is never cross-merged.

    Residual skew note: the collapse removes byte-identical families —
    the dominant pathological shape.  A giant NEAR-identical history
    family (distinct texts, shared buckets) could still inflate one
    bucket's new×history candidate count; it is left uncapped here
    because the per-new-doc argmax must see every candidate to stay
    exact, and post-collapse bucket populations are signature-diverse.
    If profiling ever shows such a bucket, cap the history side to K
    representatives per bucket and accept the (documented) recall trade.
    """
    from pyspark.sql import Window

    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    tagged = df.select(
        F.col(id_column).alias("__mid"),
        F.col(text_column).alias("__mtext"),
        new_predicate.alias("_new"),
    )
    fams = tagged.groupBy("_new", F.md5("__mtext").alias("__th")).agg(
        F.min("__mid").alias("__rep")
    )
    mapping = (
        tagged.withColumn("__th", F.md5("__mtext"))
        .join(fams, ["_new", "__th"])
        .select("__mid", "__rep", "_new")
    )
    rep_df = df.join(
        fams.select(F.col("__rep").alias(id_column)).distinct(),
        id_column,
        "semi",
    )

    base = persist_once(
        _md5_base(
            rep_df, text_column, id_column, shingle_size, num_hashes
        ).join(
            rep_df.select(
                F.col(id_column).alias("id"), new_predicate.alias("_new")
            ),
            "id",
        )
    )
    banded = _md5_banded(base, bands, rows_per_band, carry=("_new",))
    cand = (
        banded.filter(F.col("_new")).alias("n")
        .join(
            banded.filter(~F.col("_new")).alias("h"),
            on=[
                F.col("n.band") == F.col("h.band"),
                F.col("n.bucket") == F.col("h.bucket"),
            ],
        )
        .select(
            F.col("n.id").alias("new_id"), F.col("h.id").alias("hist_id")
        )
        .dropDuplicates(["new_id", "hist_id"])
    )
    sets = base.select("id", "hs")
    verified = cand.join(
        sets.withColumnRenamed("id", "new_id").withColumnRenamed("hs", "hs_n"),
        "new_id",
    ).join(
        sets.withColumnRenamed("id", "hist_id").withColumnRenamed(
            "hs", "hs_h"
        ),
        "hist_id",
    )
    inter = F.size(F.array_intersect("hs_n", "hs_h")).cast("long")
    tot = (F.size("hs_n") + F.size("hs_h")).cast("long")
    scored = (
        verified.withColumn("_inter", inter)
        .withColumn("_union", tot - inter)
        .withColumn(
            "jaccard_ppm", F.expr("div(_inter * 1000000, _union)")
        )
        .filter(F.col("jaccard_ppm") >= jaccard_ppm_threshold)
    )
    w = Window.partitionBy("new_id").orderBy(
        F.col("jaccard_ppm").desc(), F.col("hist_id").asc()
    )
    best_rep = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_id", "hist_id", "jaccard_ppm")
    )
    # re-expand: every member of a flagged new-side family inherits its
    # representative's best history match
    return (
        mapping.filter(F.col("_new"))
        .select(F.col("__mid"), F.col("__rep").alias("new_id"))
        .join(best_rep, "new_id")
        .select(
            F.col("__mid").alias("new_id"), "hist_id", "jaccard_ppm"
        )
        .orderBy("new_id")
    )


def md5_sig_ctes_sql(
    table: str = "documents",
    text_column: str = "text",
    id_column: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> str:
    """Shared DuckDB CTE chain ``toks → sh → sigs → banded`` mirroring
    :func:`_md5_base` + :func:`_md5_banded` — every md5-LSH oracle
    (full-pairs twin, incremental) composes on this one generator so
    the signature scheme cannot drift between them."""
    rows_per_band = num_hashes // bands
    k = shingle_size
    sig_entries = ",\n      ".join(
        "list_min(list_transform(sh, "
        f"s -> ('0x' || substr(md5(s || '#{j}'), 1, 15))::BIGINT))"
        for j in range(num_hashes)
    )
    bucket_exprs = "\n    UNION ALL\n".join(
        "    SELECT id, {b} AS band, ('0x' || substr(md5({concat} || '|{b}'), 1, 15))::BIGINT AS bucket FROM sigs".format(
            b=b,
            concat=" || ',' || ".join(
                f"sig[{b * rows_per_band + r + 1}]::VARCHAR"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""toks AS (
  SELECT {id_column} AS id, string_split({text_column}, ' ') AS t
  FROM {table}
), sh AS (
  SELECT id,
    CASE WHEN len(t) >= {k}
      THEN list_distinct(list_transform(generate_series(1, len(t) - {k - 1}),
           i -> array_to_string(list_slice(t, i, i + {k - 1}), ' ')))
      ELSE [array_to_string(t, ' ')] END AS sh
  FROM toks
), sigs AS (
  SELECT id,
    list_distinct(list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs,
    [ {sig_entries} ] AS sig
  FROM sh
), banded AS (
{bucket_exprs}
)"""


def minhash_md5_oracle_sql(
    table: str = "documents",
    text_column: str = "text",
    id_column: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_ppm_threshold: int = 500_000,
) -> str:
    """DuckDB SQL computing exactly :func:`minhash_lsh_pairs_md5`.

    Generated from the same constants so the two can never drift apart.
    """
    return f"""
WITH {md5_sig_ctes_sql(table, text_column, id_column, shingle_size, num_hashes, bands)}, cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
), verified AS (
  SELECT id_a, id_b,
    len(list_intersect(ha.hs, hb.hs))::BIGINT AS inter,
    len(ha.hs)::BIGINT + len(hb.hs)::BIGINT AS tot
  FROM cand
  JOIN sigs ha ON ha.id = cand.id_a
  JOIN sigs hb ON hb.id = cand.id_b
)
SELECT id_a, id_b, inter * 1000000 // (tot - inter) AS jaccard_ppm
FROM verified
WHERE inter * 1000000 // (tot - inter) >= {jaccard_ppm_threshold}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(text_column: str) -> Column:
    """64-bit SimHash of the token multiset, as a long.

    One fold over the tokens builds the 64 bit-counters; tokens vote
    +1/-1 per bit of their xxhash64. All JVM-side array expressions
    (written as a SQL expression because the Python ``shiftright`` wrapper
    only accepts literal shift amounts). Tokens are hashed **once** in an
    inner transform — hashing inside the per-bit lambda would recompute
    xxhash64 64× per token.
    """
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform(split({text_column}, ' '), tok -> xxhash64(tok)),
              array_repeat(cast(0 as bigint), 64),
              (acc, h) -> zip_with(
                acc,
                transform(sequence(0, 63), bi -> shiftright(h, bi) & 1),
                (cc, bb) -> cc + bb * 2 - 1)),
            sequence(0, 63),
            (cnt, bi) -> if(cnt > 0,
                            shiftleft(cast(1 as bigint), bi),
                            cast(0 as bigint))),
          cast(0 as bigint),
          (acc2, x) -> acc2 | x)
        """
    )


def simhash_pairs(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash banding.

    The 64-bit signature is split into 4 × 16-bit bands; any pair within
    hamming distance 3 shares at least one exact band (pigeonhole), so the
    bucket join has full recall. Returns ``id_a, id_b, hamming``.
    """
    # persist the signature table (round 10): the banded self-join reads
    # it from both sides (plus the skew sample when the guard engages),
    # and the per-token simhash fold is the expensive subtree — the same
    # signature-cache pattern the minhash paths use.  The stats shadow
    # keeps the skew-guard estimate cache-independent (the materialized
    # InMemoryRelation otherwise inflates it — see _stats_shadow_banded).
    # NEGATIVE RESULT (round 11): fusing both twins into one
    # parameterized statement à la minhash_lsh_pairs measured a WASH
    # (builds 0.21/0.17 s fused vs 0.21/0.17 s chained, 2×2 A/B at
    # sf0.1) and was reverted — here the giant simhash fold dominates,
    # and the fused tail re-PARSES+RESOLVES it once per CTE inline
    # (3×) while the op chain only re-traverses the already-resolved
    # subtree; the round-trip savings (~12 ops) don't cover that.
    sig = persist_once(
        _spread(df, id_column).select(
            F.col(id_column).alias("id"), simhash(text_column).alias("sig")
        )
    )
    pairs = _band_candidates(
        _simhash_banded(sig, bands=4, bits_per_band=16),
        carry=("sig",),
        bands=4,
        stats_bound=_memoized_bound(df, "simhash", id_column, 4),
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# SimHash, md5 variant (cross-engine checkable)
# ---------------------------------------------------------------------------
def simhash_md5(text_column: str) -> Column:
    """60-bit SimHash over md5-derived token hashes (oracle-checkable).

    Same fold as :func:`simhash` but the per-token hash is the 60-bit md5
    prefix (:func:`md5_long_sql`), computed once per token, so DuckDB can
    replicate the signature exactly."""
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform(split({text_column}, ' '),
                        tok -> {md5_long_sql('tok')}),
              array_repeat(cast(0 as bigint), 60),
              (acc, h) -> zip_with(
                acc,
                transform(sequence(0, 59), bi -> shiftright(h, bi) & 1),
                (cc, bb) -> cc + bb * 2 - 1)),
            sequence(0, 59),
            (cnt, bi) -> if(cnt > 0,
                            shiftleft(cast(1 as bigint), bi),
                            cast(0 as bigint))),
          cast(0 as bigint),
          (acc2, x) -> acc2 | x)
        """
    )


def simhash_pairs_md5(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by md5-SimHash banding (4 × 15-bit bands).

    Hamming ≤ 3 guarantees a shared band by pigeonhole, as in
    :func:`simhash_pairs`. Returns ``id_a, id_b, hamming``."""
    # signature cache + stats shadow: same rationale as simhash_pairs
    # above (the md5 fold is even heavier per token); the SHARED shadow
    # shape guarantees both twins make the same guard decision, which
    # the twin-plan parity test requires
    sig = persist_once(
        _spread(df, id_column).select(
            F.col(id_column).alias("id"),
            simhash_md5(text_column).alias("sig"),
        )
    )
    pairs = _band_candidates(
        _simhash_banded(sig, bands=4, bits_per_band=15),
        carry=("sig",),
        bands=4,
        stats_bound=_memoized_bound(df, "simhash", id_column, 4),
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_md5_oracle_sql(
    table: str = "documents",
    text_column: str = "text",
    id_column: str = "doc_id",
    max_hamming: int = 3,
) -> str:
    """DuckDB SQL computing exactly :func:`simhash_pairs_md5`."""
    return f"""
WITH th AS (
  SELECT {id_column} AS id,
    ('0x' || substr(md5(unnest(string_split({text_column}, ' '))), 1, 15))::BIGINT AS h
  FROM {table}
), votes AS (
  SELECT id, bi, SUM(((h >> bi) & 1) * 2 - 1) AS v
  FROM th, generate_series(0, 59) t(bi)
  GROUP BY id, bi
), sigs AS (
  SELECT id,
    SUM(CASE WHEN v > 0 THEN (1::BIGINT << bi) ELSE 0::BIGINT END)::BIGINT AS sig
  FROM votes GROUP BY id
), banded AS (
  SELECT id, sig, b AS band, (sig >> (15 * b)) & 32767 AS chunk
  FROM sigs, generate_series(0, 3) t(b)
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sa, b.sig AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id
)
SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= {max_hamming}
ORDER BY id_a, id_b
"""

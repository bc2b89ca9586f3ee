"""Skew and co-location helpers for 100 TB-scale plans.

- ``salted_aggregate``: two-phase aggregation for skewed group keys — the
  hot key's rows spread over ``salt`` sub-keys in the first (map-heavy)
  shuffle, then a tiny second shuffle merges the per-salt partials. Works
  for algebraic aggregates (sum/count/min/max) where partial merge is the
  same function.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PARTIAL = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
}
# how to merge partials in the final phase
_FINAL = {
    "sum": F.sum,
    "count": F.sum,  # counts add up
    "min": F.min,
    "max": F.max,
}


def salted_aggregate(
    df: DataFrame,
    keys: List[str],
    aggs: Dict[str, str],
    salt: int = 16,
) -> DataFrame:
    """Two-phase aggregation over skewed keys.

    ``aggs`` maps column → one of sum/count/min/max. Output columns are
    named ``<fn>_<col>``.
    """
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt))
    salted = df.withColumn("__salt", salt_col)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[
            _PARTIAL[fn](F.col(col)).alias(f"{fn}_{col}")
            for col, fn in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _FINAL[fn](F.col(f"{fn}_{col}")).alias(f"{fn}_{col}")
            for col, fn in aggs.items()
        ]
    )


def bounded_rank(
    df: DataFrame,
    order: List,
    k: int,
    output_column: str = "rank",
) -> DataFrame:
    """Exact global top-``k`` with rank positions, scale-safe.

    A bare ``row_number() OVER (ORDER BY …)`` followed by ``rank <= k``
    moves the ENTIRE input through one window task before discarding all
    but ``k`` rows.  This computes the identical result in two phases:

    1. ``orderBy(order).limit(k)`` — Spark plans TakeOrderedAndProject,
       a distributed partial top-k: every task keeps at most ``k`` rows
       and only ``k × tasks`` candidate rows reach the final merge.
    2. rank the ≤``k`` survivors with a global window — the window IS
       single-partition, but its input is limit-bounded by construction
       (the plan audit distinguishes limit-fed global windows from
       corpus-sized ones for exactly this pattern).

    ``order`` must be a total order (include a unique tiebreaker column)
    — otherwise the boundary row at position ``k`` is nondeterministic.
    """
    from pyspark.sql import Window

    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    top = df.orderBy(*cols).limit(k)
    w = Window.orderBy(*cols)
    return top.withColumn(
        output_column, F.row_number().over(w).cast("long")
    )


def _bucket_rex(df: DataFrame, bucket_column: str):
    """The probe/bucket expression for ``bucket_column``: a numeric
    rendering that is monotone in the column's sort order (micros for
    timestamps, days for dates, double for numerics)."""
    from pyspark.sql import types as T

    col = F.col(bucket_column)
    dt = df.schema[bucket_column].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(col)
    if isinstance(dt, T.DateType):
        return F.unix_date(col)
    return col.cast("double")


def range_boundaries(
    df: DataFrame, bucket_columns: List[str], buckets: int = 0
) -> Dict[str, list]:
    """Probe the :func:`_range_bucket` quantile boundaries for SEVERAL
    columns in ONE Spark job.

    A query that runs multiple two-level decompositions over the same
    input (e.g. one ``distributed_ntile`` per metric) otherwise pays one
    eager boundary job per pass — and each pass's probe re-executes the
    previous pass's pipeline to aggregate a column the pass never
    changed.  The boundaries depend only on the probed column's value
    multiset, so probing them all up front on the shared input is
    value-identical; pass the per-column lists through the ``boundaries``
    parameter of :func:`distributed_ntile` / :func:`distributed_row_number`.

    Note: a supplied ``boundaries`` list fully determines the consumer's
    bucket count (``len(boundaries) + 1`` ranges) — the consumer's own
    ``buckets``/shuffle-partition default applies only to its internal
    probe fallback, so probing here with a different ``buckets`` than the
    consumer would use yields unbalanced (but still correct) buckets.
    Pass the same ``buckets`` to probe and consumer when balance matters.
    """
    from kukur_spark.io import persist_once

    spark = df.sparkSession
    if not buckets:
        buckets = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32") or 32
        )
    df = persist_once(df)
    quantiles = [i / buckets for i in range(1, buckets)]
    row = df.select(
        *[
            F.percentile_approx(
                _bucket_rex(df, c), quantiles, 10_000
            ).alias(c)
            for c in bucket_columns
        ]
    ).first()
    return {
        c: (sorted(set(row[c] or [])) if row else [])
        for c in bucket_columns
    }


def _range_bucket(
    df: DataFrame,
    bucket_column: str,
    buckets: int = 0,
    boundaries: "list | None" = None,
) -> DataFrame:
    """Attach ``__pid``: a DETERMINISTIC range-bucket id aligned with
    the sort order of ``bucket_column``.

    The two-level global-order decompositions below need partition ids
    that (a) are monotone with the order key and (b) come out IDENTICAL
    every time their subtree executes.  ``repartitionByRange`` +
    ``spark_partition_id`` gives (a) but not (b) — RangePartitioner
    re-samples boundaries per instantiation, which round 5 papered over
    with ``localCheckpoint(eager=True)`` (pinned executor memory, an
    eager job, and lineage truncation that kills fault tolerance).

    Instead: collect approximate quantile boundaries ONCE driver-side,
    embed them as literals, and compute the bucket as a pure projection
    of the row (count of boundaries ≤ key).  Any re-execution then
    assigns identical ids by construction — no materialization pinned,
    lineage stays replayable on executor loss, and the consumers'
    identical hash exchanges on ``__pid`` stay eligible for AQE reuse.
    Equal key values always
    land in one bucket, so a heavily-duplicated leading key skews a
    bucket — same behavior the RangePartitioner had.

    ``bucket_column`` must be numeric, timestamp, or date.

    ``boundaries`` (from :func:`range_boundaries`) skips the per-call
    probe job: callers that bucket several columns of one input supply
    literals probed in a single job instead of one eager job per pass.
    """
    from kukur_spark.io import persist_once

    spark = df.sparkSession
    if not buckets:
        buckets = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32") or 32
        )
    # Cache the INPUT before the boundary job: `.first()` below is its
    # own Spark job, so an uncached input re-executes the entire
    # upstream pipeline once for the boundaries and again for the first
    # consumer — on stacked decompositions (keyed_lag→merge_intervals)
    # that upstream is itself a multi-exchange query.  Filling the
    # (spillable, lineage-keeping) cache here makes the boundary job
    # the one and only upstream execution; every consumer then reads
    # the cache and recomputes just the pure `__pid` projection.
    # (Kept when boundaries are supplied too: every decomposition reads
    # the bucketed frame from at least two consumers.)
    df = persist_once(df)
    col = F.col(bucket_column)
    rex = _bucket_rex(df, bucket_column)
    if boundaries is None:
        quantiles = [i / buckets for i in range(1, buckets)]
        row = df.select(
            F.percentile_approx(rex, quantiles, 10_000).alias("b")
        ).first()
        boundaries = sorted(set(row["b"] or [])) if row else []
    if not boundaries:
        # empty (or all-NULL-key) input: one bucket.  NOT ``lit(0)`` — a
        # foldable constant lets Catalyst erase the __pid partition spec
        # (global window) and fold the __pid equi-joins into cross joins,
        # which trips the plan audit even though the input is empty.
        # pmod(xxhash64, 1) is always 0 but opaque to constant folding.
        single = F.pmod(F.xxhash64(rex), F.lit(1)).cast("int")
        return df.withColumn("__pid", single)
    pid = F.aggregate(
        F.array(*[F.lit(b) for b in boundaries]),
        F.lit(0),
        lambda acc, b: acc + F.when(rex >= b, 1).otherwise(0),
    )
    # no second persist: the result is a pure projection over the
    # already-cached input, so every consumer recomputes the same
    # `__pid` from the cache (and recomputes it identically after an
    # eviction — the boundaries are embedded literals)
    return df.withColumn(
        "__pid", F.when(col.isNull(), F.lit(-1)).otherwise(pid)
    )


def distributed_row_number(
    df: DataFrame,
    order_columns: List[str],
    output_column: str,
    total_column: str = "",
    boundaries: "list | None" = None,
) -> DataFrame:
    """Global row_number without a single-task window.

    A bare ``row_number() OVER (ORDER BY …)`` collapses the whole table
    into one window task; this computes the identical deterministic rank
    in two phases: bucket on the leading order column's quantiles
    (:func:`_range_bucket` — deterministic, so both consumers of the
    bucketed frame agree without any pinned materialization), rank
    locally per bucket, then add broadcast per-bucket count offsets.
    Pass ``total_column`` to also attach the global row count (free — it
    rides the same broadcast).  The leading order column should be
    high-cardinality: equal values share a bucket.

    The per-bucket counts DERIVE FROM THE WINDOWED FRAME (``max(__local)``
    per ``__pid`` — an exchange-free aggregate, since the cached window
    output already hashes on ``__pid``) instead of a second aggregate
    branch over the input: that branch re-ran the ``__pid`` boundary fold
    per row plus its own small exchange.  Measured round 11 (sf0.1 A/B,
    2 runs each): orders_cumulative_share noop 0.66→0.35 s,
    docs_curriculum_buckets 0.58→0.32 s, orders_pareto_abc /
    orders_rfm_segments within noise.  Costs one extra cached frame (the
    windowed output) per decomposition.
    """
    from pyspark.sql import Window

    from kukur_spark.io import persist_once

    with_pid = _range_bucket(df, order_columns[0], boundaries=boundaries)
    local_w = Window.partitionBy("__pid").orderBy(
        *[F.col(c) for c in order_columns]
    )
    ranked0 = persist_once(
        with_pid.withColumn("__local", F.row_number().over(local_w))
    )
    counts = ranked0.groupBy("__pid").agg(F.max("__local").alias("__cnt"))
    offset_w = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(offset_w), F.lit(0)).alias("__offset"),
        F.sum("__cnt").over(
            Window.orderBy("__pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__total"),
    )
    ranked = (
        ranked0.join(F.broadcast(offsets), "__pid")
        .withColumn(output_column, F.col("__offset") + F.col("__local"))
    )
    if total_column:
        ranked = ranked.withColumn(total_column, F.col("__total"))
    return ranked.drop("__pid", "__local", "__offset", "__total")


def distributed_ntile(
    df: DataFrame,
    n: int,
    order_columns: List[str],
    output_column: str,
    boundaries: "list | None" = None,
) -> DataFrame:
    """Global ntile without a single-task window (two-phase global rank
    + the SQL NTILE bucket rule: the first ``total % n`` buckets get one
    extra row)."""
    ranked = distributed_row_number(
        df, order_columns, "__rank", total_column="__gtotal",
        boundaries=boundaries,
    )
    out = ranked.withColumn(
        output_column,
        F.expr(
            f"case when (__rank - 1) < (__gtotal % {n}) * (__gtotal div {n} + 1) "
            f"then (__rank - 1) div (__gtotal div {n} + 1) + 1 "
            f"else (__gtotal % {n}) + ((__rank - 1) - (__gtotal % {n}) "
            f"* (__gtotal div {n} + 1)) div (__gtotal div {n}) + 1 end"
        ).cast("int"),
    )
    return out.drop("__rank", "__gtotal")


def merge_intervals(
    df: DataFrame,
    start_column: str = "start_us",
    end_column: str = "end_us",
    count_column: str = "n_merged",
) -> DataFrame:
    """Coalesce overlapping-or-touching intervals globally, scale-safe.

    The classic sweep — flag a new group when ``start`` exceeds the
    running ``max(end)`` of all earlier intervals, then prefix-sum the
    flags into group ids — needs two global scans, and the naive
    ``Window.orderBy(start)`` form funnels the whole input through one
    task.  Both scans distribute with the same two-level trick as
    :func:`distributed_row_number`:

    1. range-repartition on ``(start, end)`` so partition order equals
       global order;
    2. per-partition running ``max(end)`` (keyed window), plus an
       exclusive prefix-max of per-partition maxima across the
       O(#partitions) summary rows (``__pid``-ordered window — the
       audit-exempt convention);
    3. group flags from the combined previous-max, then group ids from a
       per-partition running flag sum plus an exclusive prefix-sum of
       per-partition flag totals (second O(#partitions) summary);
    4. one keyed aggregation per group id emits the merged intervals.

    The only single-task state is the two per-partition summaries —
    bounded by the partition count, not the data.  ``count_column`` must
    exist on ``df`` (seed it with ``lit(1)``) and is summed through the
    merge.

    Bucket ids come from :func:`_range_bucket` — a deterministic pure
    projection, so the four consumers of the bucketed frame (both
    summaries, the flag pass, the final aggregation) agree on ``__pid``
    under any re-execution, without the round-5 ``localCheckpoint``
    (which pinned the full rows in executor memory and truncated
    lineage).  The repeated hash exchanges on ``__pid`` are identical
    subtrees, so AQE's shuffle-stage reuse deduplicates the re-reads
    (measured at 100× sf0.1: ~2× faster than the checkpointed form
    once the input cache fills during the boundary job).
    """
    from pyspark.sql import Window

    s, e = F.col(start_column), F.col(end_column)
    with_pid = _range_bucket(df, start_column)

    pref_w = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefixes = (
        with_pid.groupBy("__pid")
        .agg(F.max(e).alias("__pmax"))
        .select("__pid", F.max("__pmax").over(pref_w).alias("__prefmax"))
    )

    local_w = Window.partitionBy("__pid").orderBy(start_column, end_column)
    local_prev_max = F.max(e).over(
        local_w.rowsBetween(Window.unboundedPreceding, -1)
    )
    # greatest() skips NULLs: first row of the first partition sees NULL
    flagged = (
        with_pid.join(F.broadcast(prefixes), "__pid")
        .withColumn("__prev", F.greatest(local_prev_max, F.col("__prefmax")))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull() | (s > F.col("__prev")), 1
            ).otherwise(0),
        )
    )

    offsets = (
        flagged.groupBy("__pid")
        .agg(F.sum("__new").alias("__ngrp"))
        .select(
            "__pid",
            F.coalesce(F.sum("__ngrp").over(pref_w), F.lit(0)).alias(
                "__goff"
            ),
        )
    )
    gid = F.col("__goff") + F.sum("__new").over(
        local_w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.join(F.broadcast(offsets), "__pid")
        .withColumn("__gid", gid)
        .groupBy("__gid")
        .agg(
            F.min(s).alias(start_column),
            F.max(e).alias(end_column),
            F.sum(count_column).alias(count_column),
        )
        .drop("__gid")
    )


def keyed_lag(
    df: DataFrame,
    key_columns: List[str],
    order_columns: List[str],
    value_column: str,
    lag_column: str = "__lag",
) -> DataFrame:
    """Exact per-key ``lag(value)`` without one-task-per-key sorts.

    ``Window.partitionBy(key).orderBy(order)`` funnels each key's whole
    sequence through one task — at low key cardinality (5 event types,
    a handful of hot series) that caps parallelism at #keys no matter
    how many executors exist.  This computes the identical lag with the
    same two-level decomposition as :func:`merge_intervals`:

    1. bucket on the leading ORDER column's quantiles
       (:func:`_range_bucket`) — within every key, bucket order equals
       global order, because the bucket id is monotone in the order key
       itself (keys need not be contiguous across buckets: all the
       boundary algebra below is per-key);
    2. per-``(bucket, key)`` lag via a local window — every row gets
       the right value except each bucket's first row of each key;
    3. an O(#buckets × keys-touching-a-boundary) summary — the last
       value of every ``(bucket, key)`` — shifted one bucket forward
       per key, broadcast back, patches exactly those first rows (a
       key's first global row keeps NULL).

    The deterministic bucket id means both consumers of the bucketed
    frame (the local-lag subtree and the boundary summary) agree on
    ``__pid`` under any re-execution — the round-5 ``localCheckpoint``
    pin is no longer needed.  Result is row-identical to the naive
    keyed window (pinned by
    ``tests/test_scale.py::test_keyed_lag_matches_window``).
    """
    from pyspark.sql import Window

    order_cols = [F.col(c) for c in order_columns]
    with_pid = _range_bucket(df, order_columns[0])

    local_w = Window.partitionBy("__pid", *key_columns).orderBy(
        *order_columns
    )
    local = with_pid.withColumn(
        lag_column, F.lag(value_column).over(local_w)
    )

    # last value of each (pid, key): max_by over the local partition
    last_per = with_pid.groupBy("__pid", *key_columns).agg(
        F.max_by(
            F.col(value_column), F.struct(*order_cols)
        ).alias("__lastv")
    )
    bound_w = Window.partitionBy(*key_columns).orderBy("__pid")
    boundaries = last_per.select(
        "__pid",
        *key_columns,
        F.lag("__lastv").over(bound_w).alias("__prevlast"),
    )

    first_w = Window.partitionBy("__pid", *key_columns).orderBy(
        *order_columns
    )
    patched = (
        local.withColumn("__rn", F.row_number().over(first_w))
        .join(F.broadcast(boundaries), ["__pid", *key_columns], "left")
        .withColumn(
            lag_column,
            F.when(
                (F.col("__rn") == 1) & F.col(lag_column).isNull(),
                F.col("__prevlast"),
            ).otherwise(F.col(lag_column)),
        )
    )
    return patched.drop("__pid", "__rn", "__prevlast")


def distributed_prefix_sum(
    df: DataFrame,
    order_columns: List[str],
    sum_columns: List[str],
) -> DataFrame:
    """Global inclusive running sums without a single-task window.

    Same two-level shape as :func:`distributed_row_number`: bucket on
    the leading order column's quantiles (:func:`_range_bucket`, a
    deterministic projection — no pinned materialization), run
    per-bucket running sums (keyed window), and add each bucket's
    exclusive offset computed over the O(#buckets) summary rows
    (``__pid``-ordered window — the audit-exempt convention).  Appends
    ``<col>_cum`` for every ``sum_columns`` entry.

    Sums ride whatever numeric type the input columns carry — cast to
    DECIMAL(38,0) upstream when totals can overflow BIGINT.

    NOT converted to the windowed-frame totals shape that paid off in
    :func:`distributed_row_number` (round 11): here the only window runs
    AFTER the broadcast join, so there is no pre-join windowed frame to
    aggregate, and a bucket's total cannot be read off its running sum
    without either assuming non-negative values (max(run) == total fails
    on negatives) or adding a row_number window to the big side just to
    argmax — both worse than the skinny totals aggregate this keeps.
    """
    from pyspark.sql import Window

    with_pid = _range_bucket(df, order_columns[0])
    totals = with_pid.groupBy("__pid").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_columns]
    )
    offset_w = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__pid",
        *[
            F.coalesce(F.sum(f"__t_{c}").over(offset_w), F.lit(0)).alias(
                f"__off_{c}"
            )
            for c in sum_columns
        ],
    )
    local_w = (
        Window.partitionBy("__pid")
        .orderBy(*[F.col(c) for c in order_columns])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = with_pid.join(F.broadcast(offsets), "__pid")
    for c in sum_columns:
        out = out.withColumn(
            f"{c}_cum", F.sum(c).over(local_w) + F.col(f"__off_{c}")
        )
    return out.drop("__pid", *[f"__off_{c}" for c in sum_columns])

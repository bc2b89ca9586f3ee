"""Table loading helpers for the driver-provided parquet test tables.

Timestamp columns in the driver parquet are naive (isAdjustedToUTC=false);
with ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` Spark reads them
as session-timezone TIMESTAMP — and the session is pinned to UTC (SURVEY.md
§1.3), so they carry the same instants the DuckDB oracle sees. Older
generations of the tables stored ``events.ts`` as TIMESTAMP(NANOS), which
Spark reads as a nanosecond long under ``nanosAsLong``; ``load_table`` still
normalizes that to timestamp[us]. Column pruning and predicate pushdown reach
the parquet scan in both cases: range predicates are applied on the stored
column (raw long for nanos files), never through a conversion expression.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Columns that may be stored as TIMESTAMP(NANOS) in the driver parquet
# (older testdata generations), per table.
_NANOS_TS_COLUMNS = {"events": ["ts"]}

# Parquet schema cache: footer-based schema inference costs ~0.1-0.15 s
# per read (every query re-pays it for every table it touches); the test
# tables are immutable, so infer once per (session, path). Keyed by
# applicationId so a new session never reuses a stale entry.
_SCHEMA_CACHE: dict = {}

# DataFrame-handle cache: even with the schema cached, assembling the
# reader + the ns→timestamp normalization costs ~25-35 ms of py4j round
# trips per call (measured round 10), and the bench queries call
# load_table ~45 times per pass (~1.2 s of pure driver latency).
# DataFrames are immutable lazy plan handles — returning the same object
# is semantically identical to rebuilding it, and every action still
# computes from the parquet files.  Keyed by applicationId like the
# schema cache.  ``ts_range`` reads are NOT served from here (the range
# predicate must land on the raw column before conversion); they reuse
# the cached raw handle and rebuild the cheap filter+convert tail.
_DF_CACHE: dict = {}

# Sessions whose canonical-read confs have been pinned already — the
# three spark.conf.set calls are ~1 ms of py4j each and the values never
# change after the first call for a given session.
_CONF_PINNED: set = set()


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_range=None,
) -> DataFrame:
    """Load one driver test table; normalize ns-long timestamps to timestamp.

    ``ts_range=(start, end)`` (datetimes, half-open) applies the range
    predicate **on the raw nanosecond long column before conversion** — a
    filter through ``timestamp_micros(x div 1000)`` is opaque to Catalyst
    and would NOT reach the parquet scan (no row-group pruning); the raw
    long comparison shows up in ``PushedFilters`` and prunes at 100 TB.
    """
    app_id = spark.sparkContext.applicationId
    if app_id not in _CONF_PINNED:
        # canonical timestamp semantics require a UTC session (SURVEY
        # §1.3); the caller's session (e.g. the driver's) may be
        # configured otherwise — all three confs are runtime SQLConfs,
        # safe to set before the read resolves, and constant for the
        # lifetime of the session, so pin them once per applicationId
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # naive parquet timestamps → session-tz TIMESTAMP (not NTZ):
        # keeps every timestamp function (unix_micros, window, …)
        # applicable and matches the oracle's instant semantics under
        # the UTC session
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # TIMESTAMP(NANOS) parquet columns read as long (normalized to
        # timestamp[us] below); also an engine default in get_spark
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _CONF_PINNED.add(app_id)
    path = os.path.join(sf_dir, f"{name}.parquet")
    cache_key = (app_id, path)
    if ts_range is None:
        hit = _DF_CACHE.get(cache_key)
        if hit is not None:
            return hit
    cached = _SCHEMA_CACHE.get(cache_key)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[cache_key] = df.schema
    ts_columns = _NANOS_TS_COLUMNS.get(name, [])
    for column in ts_columns:
        if column not in df.columns:
            continue
        is_nanos_long = str(df.schema[column].dataType) in (
            "LongType()",
            "LongType",
            "bigint",
        )
        if is_nanos_long:
            # filter on the raw long BEFORE conversion: a predicate through
            # timestamp_micros(x div 1000) is opaque to Catalyst and would
            # not reach the scan (no row-group pruning at 100 TB)
            if ts_range is not None:
                from kukur_spark.timeutil import epoch_ns

                start_ns = epoch_ns(ts_range[0])
                end_ns = epoch_ns(ts_range[1])
                df = df.filter(
                    (F.col(column) >= F.lit(start_ns))
                    & (F.col(column) < F.lit(end_ns))
                )
            df = df.withColumn(
                column, F.timestamp_micros(F.expr(f"`{column}` div 1000"))
            )
        elif ts_range is not None:
            # native timestamp column: a plain half-open range predicate
            # pushes down to the parquet scan as-is
            df = df.filter(
                (F.col(column) >= F.lit(ts_range[0]))
                & (F.col(column) < F.lit(ts_range[1]))
            )
    if ts_range is None:
        _DF_CACHE[cache_key] = df
    return df


# Engine-initiated persists, oldest first.  A long-lived session running
# the distributed operators over many distinct inputs would otherwise
# accumulate cached plans forever (each `_range_bucket` boundary probe
# persists its input).  Evicting the oldest beyond the cap is always
# safe: the quantile-literal design keeps lineage replayable, so a
# consumer that still references an evicted plan just recomputes it.
_PERSISTED_FIFO: "list[DataFrame]" = []
_PERSISTED_CAP = 8


def persist_once(df: DataFrame) -> DataFrame:
    """Persist ``df`` unless an equivalent plan is already cached.

    Re-running a query rebuilds an identical logical plan; calling
    ``.persist()`` on it again triggers Spark's "Asked to cache already
    cached data" warning and a redundant CacheManager insert.
    ``df.storageLevel`` consults the shared CacheManager by plan equality,
    so this guard stays idempotent across rebuilt DataFrames within a
    session.

    Plans persisted here are tracked in a bounded FIFO
    (``_PERSISTED_CAP``, 8): once full, the oldest engine-initiated
    persist is unpersisted (non-blocking).  A cap of ``0`` (or
    negative) disables EVICTION — the cache grows unbounded, matching
    the 0-disables-the-guard convention of the sibling caps.  Frames
    the CALLER persisted hit the early return and are never tracked, so
    caller-managed caches are never evicted by the engine.
    """
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        return df
    df = df.persist()
    _PERSISTED_FIFO.append(df)
    while _PERSISTED_CAP > 0 and len(_PERSISTED_FIFO) > _PERSISTED_CAP:
        stale = _PERSISTED_FIFO.pop(0)
        try:
            stale.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing to release
    return df

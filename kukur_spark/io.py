"""File reads: the one format-name → reader map, and the test-table loader.

:func:`read_file` is the only code that turns a file-format name into a
reader; file sources, ``inspect.preview`` and the Spark-SQL source's
registered tables all read through it.

:func:`load_table` loads the parquet test tables (TESTDATA.md).
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

import glob
import os
from typing import Optional

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kukur_spark.plancache import PLANS, fingerprint
from kukur_spark.timeutil import epoch_ns

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


def read_file(
    spark: SparkSession,
    path: str,
    file_format: str,
    *,
    header: bool = False,
    sep: str = ",",
    encoding: Optional[str] = None,
    version: Optional[int] = None,
    timestamp=None,
) -> DataFrame:
    """``path`` read as ``file_format``.

    - ``csv`` (never schema-inferred: the config types the columns),
      ``parquet``, ``orc`` and ``ndjson``/``json`` read through
      ``spark.read``.  An ORC file with a TIMESTAMP_INSTANT column
      ("timestamp with local time zone", which Spark's reader cannot
      parse) is read in-process with pyarrow instead.
    - ``feather``/``arrow`` (Arrow IPC file) and ``arrows`` (IPC stream)
      have no Spark reader: the files (a glob may match several) are
      read in-process with pyarrow and handed over the Arrow
      ``createDataFrame`` path (reference kukur/source/feather/feather.py
      :32-40, arrows/arrows.py:17-41).  Fine for small per-series files;
      large data belongs in parquet or delta.
    - ``delta`` reads with delta-spark, else (jar not on the classpath)
      by replaying the transaction log engine-side
      (:func:`kukur_spark.sources.delta_log.read_delta`); ``version`` and
      ``timestamp`` select VERSION / TIMESTAMP AS OF.
    """
    if file_format == "csv":
        return spark.read.csv(
            path, header=header, sep=sep, inferSchema=False, encoding=encoding
        )
    if file_format == "parquet":
        return spark.read.parquet(path)
    if file_format == "orc":
        try:
            return spark.read.orc(path)
        except ParseException:
            import pyarrow.orc

            return _read_pyarrow(spark, path, pyarrow.orc.read_table)
    if file_format in ("ndjson", "json"):
        return spark.read.json(path)
    if file_format in ("feather", "arrow"):
        import pyarrow.feather

        return _read_pyarrow(spark, path, pyarrow.feather.read_table)
    if file_format == "arrows":
        return _read_pyarrow(spark, path, _read_ipc_stream)
    if file_format == "delta":
        try:
            reader = spark.read.format("delta")
            if version is not None:
                reader = reader.option("versionAsOf", version)
            if timestamp is not None:
                reader = reader.option("timestampAsOf", str(timestamp))
            return reader.load(path)
        except Exception:
            from kukur_spark.sources.delta_log import read_delta

            return read_delta(spark, path, version, timestamp=timestamp)
    raise ValueError(f"unknown file format: {file_format}")


def _read_pyarrow(spark: SparkSession, path: str, read_one) -> DataFrame:
    """Every file ``path`` names (a glob may match several) read with
    ``read_one`` and concatenated, as one DataFrame."""
    import pyarrow as pa

    paths = sorted(glob.glob(path)) if any(c in path for c in "*?[") else [path]
    table = pa.concat_tables([read_one(one) for one in paths])
    return spark.createDataFrame(table.to_pandas())


def _read_ipc_stream(path: str):
    import pyarrow as pa
    import pyarrow.ipc

    with pa.OSFile(path, "rb") as handle:
        return pyarrow.ipc.open_stream(handle).read_all()


# Columns that may be stored as TIMESTAMP(NANOS) in the driver parquet
# (older testdata generations), per table.
_NANOS_TS_COLUMNS = {"events": ["ts"]}

# Per (session, path), the raw read and its normalized table stay in the
# plan cache while the file is unchanged: schema inference costs
# ~0.1-0.15 s per read and the reader + ns→timestamp tail ~25-35 ms of
# py4j (round 10), against ~45 calls per bench pass.  ``ts_range`` reads
# build their filter + convert tail on the cached raw handle.


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
    path = os.path.join(sf_dir, f"{name}.parquet")
    raw, table = PLANS.get(
        ("table", spark, path),
        fingerprint(path),
        lambda: _read_table(spark, name, path),
    )
    if ts_range is None:
        return table
    return _normalize_ts(raw, name, ts_range)


def _read_table(spark: SparkSession, name: str, path: str):
    """(raw read, normalized table) for :func:`load_table`'s cache."""
    # canonical timestamp semantics need a UTC session (SURVEY §1.3) that
    # reads naive parquet timestamps as session-tz TIMESTAMP (not NTZ, so
    # every timestamp function applies) and TIMESTAMP(NANOS) as long; the
    # caller's session may be configured otherwise, so set them per miss
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(path)
    return raw, _normalize_ts(raw, name, None)


def _normalize_ts(df: DataFrame, name: str, ts_range) -> DataFrame:
    """ns-long timestamp columns → timestamp[us], after the optional
    ``ts_range`` filter on the stored column: a predicate through
    ``timestamp_micros(x div 1000)`` is opaque to Catalyst and would not
    reach the scan (no row-group pruning at 100 TB)."""
    for column in _NANOS_TS_COLUMNS.get(name, []):
        if column not in df.columns:
            continue
        nanos = isinstance(df.schema[column].dataType, T.LongType)
        if ts_range is not None:
            lo, hi = [epoch_ns(t) for t in ts_range] if nanos else ts_range
            df = df.filter(
                (F.col(column) >= F.lit(lo)) & (F.col(column) < F.lit(hi))
            )
        if nanos:
            df = df.withColumn(
                column, F.timestamp_micros(F.expr(f"`{column}` div 1000"))
            )
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

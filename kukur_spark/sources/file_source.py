"""File-backed sources: CSV, Parquet, ORC, NDJSON, Feather, Arrow IPC, Delta.

One engine, three physical layouts (parity: reference
``kukur/source/csv/csv.py:1-7`` and ``kukur/source/arrow.py``):

- **row**: long format ``tag…, ts, field…[, quality]`` — many series per file;
- **pivot**: wide format — first column ts, one column per series;
- **dir**: one file per series, filename built from the series name
  (optionally base64-encoded, reference kukur/source/arrow.py:204-206).

Everything is a Spark DataFrame plan: column mapping is a ``select`` with
aliases (reference arrow.py:351-380), tag filters are conjunctive equality
predicates (arrow.py:299-314) that Catalyst pushes into the scan, the time
range filter is half-open ``[start, end)`` (arrow.py:383-390), and timestamp
normalization is ``to_timestamp`` / ``to_utc_timestamp`` / ``cast``
(arrow.py:254-282). The pivot layout is melted with ``stack`` so wide tables
with thousands of series never flow wide through the engine.
"""

from __future__ import annotations

import base64
import glob as globlib
import os
import threading
from dataclasses import dataclass, field as dc_field
from datetime import datetime
from typing import Any, Dict, Iterator, List, Optional, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kukur_spark.base import (
    DEFAULT_FIELD,
    SERIES_NAME_TAG,
    SeriesSearch,
    SeriesSelector,
    SourceStructure,
)
from kukur_spark.metadata import Metadata
from kukur_spark.operators.plot import plot_downsample
from kukur_spark.plancache import PLANS, fingerprint
from kukur_spark.schema import (
    QUALITY_COLUMN,
    TS_COLUMN,
    VALUE_COLUMN,
    conform,
)
from kukur_spark.sources.quality import QualityMapper

# strptime %-directive → Spark datetime pattern (reference configs use
# strptime formats, kukur/source/arrow.py:254-282)
_STRPTIME_TO_SPARK = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%j": "DDD",
    "%z": "XX",
    "%Z": "zzz",
    "%p": "a",
    "%%": "%",
}


def _search_key(search: SeriesSearch) -> tuple:
    return ("search", tuple(sorted((search.tags or {}).items())), search.field)


def _literal_col(name: str) -> Column:
    """A column reference that treats ``name`` literally — both ``F.col``
    and ``df[name]`` parse dots as struct access; backtick-quoting (with
    doubled inner backticks) does not."""
    return F.col("`" + name.replace("`", "``") + "`")


def _resolve_mapping(config: Dict[str, Any], key: str) -> Dict[str, Any]:
    """Resolve a metadata (value) mapping that may be inline or a name
    referencing a root-level table (reference config style:
    ``metadata_mapping = "x"`` + ``[metadata_mapping.x]``; tables are
    injected by the factory as ``__<key>_tables__``)."""
    value = config.get(key, {})
    if isinstance(value, str):
        tables = config.get(f"__{key}_tables__", {})
        if value not in tables:
            raise ValueError(f"unknown {key}: {value!r}")
        value = tables[value]
    return dict(value)


def _datetime_format_to_spark(fmt: Optional[str]) -> Optional[str]:
    """Accept both strptime %-directives (reference configs) and native
    Spark patterns (passed through unchanged when no '%' is present)."""
    if fmt is None or "%" not in fmt:
        return fmt
    out = fmt
    for directive, spark in _STRPTIME_TO_SPARK.items():
        out = out.replace(directive, spark)
    return out




def _resolve_path(path: str) -> str:
    """Resolve relative config paths against the *Python* working
    directory at construction time: Spark's JVM resolves relative paths
    against its own launch directory, which need not match (e.g. tests
    that chdir into a fixture tree after the session started)."""
    if not path or "://" in path or os.path.isabs(path):
        return path
    return os.path.abspath(path)


@dataclass
class FileSourceOptions:
    """Configuration for a file-backed source (TOML ``[source.<name>]``)."""

    path: str
    format: str = "row"  # row | pivot | dir
    file_format: str = "csv"  # csv | parquet | orc | ndjson | feather | arrows | delta
    tag_columns: List[str] = dc_field(default_factory=lambda: [SERIES_NAME_TAG])
    field_columns: List[str] = dc_field(default_factory=lambda: [DEFAULT_FIELD])
    ts_column: str = TS_COLUMN
    column_mapping: Dict[str, str] = dc_field(default_factory=dict)
    header: bool = False
    delimiter: str = ","
    decimal_point: str = "."
    data_datetime_format: Optional[str] = None
    data_timezone: Optional[str] = None
    quality_mapper: Optional[QualityMapper] = None
    sort_by_timestamp: bool = False
    path_encoding: Optional[str] = None  # None | "base64"
    file_extension: Optional[str] = None
    encoding: Optional[str] = None  # e.g. "cp1252"; BOM handled by UTF-8 default
    metadata_path: Optional[str] = None
    metadata_field_column: Optional[str] = None
    # whitelist of metadata fields this source returns (reference
    # kukur/source/csv/csv.py:68-70: ``metadata_fields`` or ``fields``);
    # empty = all fields
    metadata_fields: List[str] = dc_field(default_factory=list)
    metadata_mapping: Dict[str, str] = dc_field(default_factory=dict)
    metadata_value_mapping: Dict[str, Dict[str, str]] = dc_field(default_factory=dict)
    dictionary_dir: Optional[str] = None
    value_type: Optional[str] = None  # None=auto | double | bigint | string
    # ts-derived hive partition columns (subset of year/month/day/hour, in
    # order) — range queries enumerate them into pruning predicates
    timestamp_partition_columns: List[str] = dc_field(default_factory=list)
    # reference-style [[source.<n>.partitions]] entries: dicts with
    # origin (tag|timestamp), key, optional column, optional strftime
    # format (kukur/source/delta/delta_lake.py:298-356)
    partitions: List[Dict[str, Any]] = dc_field(default_factory=list)
    # Delta VERSION AS OF (Spark extension; None = latest snapshot)
    delta_version: Optional[int] = None
    # Delta TIMESTAMP AS OF (datetime or epoch millis; Spark extension)
    delta_timestamp: Optional[Any] = None

    @classmethod
    def from_config(cls, config: Dict[str, Any]) -> "FileSourceOptions":
        return cls(
            # metadata-only sources have no data path (reference
            # custom-fields-simple config) — data verbs then raise;
            # Delta configs name the table location ``uri`` (reference
            # kukur/source/delta/delta_lake.py config surface)
            path=_resolve_path(
                config.get("path", config.get("uri", ""))
            ),
            format=config.get("format", "row"),
            file_format=config.get("type", config.get("file_format", "csv")),
            tag_columns=list(config.get("tag_columns", [SERIES_NAME_TAG])),
            field_columns=list(config.get("field_columns", [DEFAULT_FIELD])),
            ts_column=config.get("ts_column", TS_COLUMN),
            column_mapping=dict(config.get("column_mapping", {})),
            header=bool(config.get("header_row", config.get("header", False))),
            # reference key names first (kukur csv-examples.toml), then
            # this engine's historical aliases
            delimiter=config.get(
                "data_column_separator",
                config.get("csv_delimiter", config.get("delimiter", ",")),
            ),
            decimal_point=config.get(
                "data_decimal_point", config.get("csv_decimal_point", ".")
            ),
            encoding=config.get("file_encoding", config.get("encoding")),
            data_datetime_format=_datetime_format_to_spark(
                config.get("data_datetime_format")
            ),
            data_timezone=config.get("data_timezone"),
            quality_mapper=QualityMapper.from_config(config),
            sort_by_timestamp=bool(
                config.get(
                    "sort_by_timestamp",
                    # delta default on, whichever key named the format
                    config.get("type", config.get("file_format", "csv"))
                    == "delta",
                )
            ),
            path_encoding=config.get("path_encoding"),
            file_extension=config.get("file_extension"),
            metadata_path=config.get("metadata"),
            metadata_fields=list(
                config.get("metadata_fields", config.get("fields", []))
            ),
            metadata_field_column=config.get("metadata_field_column"),
            metadata_mapping=_resolve_mapping(
                config, "metadata_mapping"
            ),
            metadata_value_mapping=_resolve_mapping(
                config, "metadata_value_mapping"
            ),
            dictionary_dir=config.get("dictionary_dir"),
            value_type=config.get("value_type"),
            timestamp_partition_columns=list(
                config.get("timestamp_partition_columns", [])
            ),
            partitions=list(config.get("partitions", [])),
            delta_version=(
                int(config["version"]) if "version" in config else None
            ),
            delta_timestamp=config.get("timestamp"),
        )


# path → fingerprint during the outermost plan lookup on this thread
_CALL = threading.local()

# a search population up to this many (tags, field) rows is kept in the
# plan cache beside its plan, so a repeated search runs no Spark job; a
# collected row holds ~0.4 KB of driver memory (tracemalloc over 20 000
# rows of one or two tags), so one entry stays under ~5 MB
MAX_CACHED_SEARCH_ROWS = 10_000


class FileSource:
    """A file-backed time-series source speaking the 4-verb API."""

    def __init__(self, spark: SparkSession, name: str, options: FileSourceOptions):
        self.spark = spark
        self.name = name
        self.options = options

    # ------------------------------------------------------------------
    # raw reads
    # ------------------------------------------------------------------
    def _read_raw(self, path: Optional[str] = None) -> DataFrame:
        """Plan-cached raw read (see :meth:`_plan_cached`): reader
        construction + schema resolution cost ~90 ms per call through the
        Flight verbs, ~60% of a small ``get_data``'s wall (round 11)."""
        path = path or self.options.path
        return self._plan_cached(
            ("raw", path), path, lambda: self._read_raw_uncached(path)
        )

    def _read_raw_uncached(self, path: str) -> DataFrame:
        opts = self.options
        fmt = opts.file_format
        if fmt == "csv":
            # Spark's CSV reader accepts a fixed charset list (iso-8859-1,
            # us-ascii, utf-16*, utf-32, utf-8); windows-125x configs map
            # to their latin-1 sibling (_spark_encoding). CAVEAT: the
            # 0x80-0x9F block (€, smart quotes, dashes) decodes as C1
            # controls — re-encode such files to UTF-8 upstream if those
            # characters matter.
            encoding = self._spark_encoding()
            # pivot CSVs always carry the series names in a header row:
            # the reference reads them with pyarrow's default read options
            # (first row = header) regardless of header_row
            # (kukur/source/csv/csv.py:435-441 vs :466-471)
            header = opts.header or opts.format == "pivot"
            return self.spark.read.csv(
                path,
                header=header,
                sep=opts.delimiter,
                inferSchema=False,  # config-driven, never inferred
                encoding=encoding,
            )
        if fmt == "parquet":
            return self.spark.read.parquet(path)
        if fmt == "orc":
            return self.spark.read.orc(path)
        if fmt == "ndjson":
            return self.spark.read.json(path)
        if fmt in ("feather", "arrows", "arrow"):
            return self._read_arrow_ipc(path, fmt)
        if fmt == "delta":
            try:
                reader = self.spark.read.format("delta")
                if self.options.delta_version is not None:
                    reader = reader.option(
                        "versionAsOf", self.options.delta_version
                    )
                if self.options.delta_timestamp is not None:
                    reader = reader.option(
                        "timestampAsOf", str(self.options.delta_timestamp)
                    )
                return reader.load(path)
            except Exception:
                # delta-spark jar not on the classpath: replay the open
                # transaction-log protocol engine-side (JSON commits +
                # parquet checkpoints -> live file set with tombstones
                # excluded; reference kukur/source/delta/delta_lake.py
                # reads via deltalake-python the same way)
                from kukur_spark.sources.delta_log import read_delta

                return read_delta(
                    self.spark,
                    path,
                    self.options.delta_version,
                    timestamp=self.options.delta_timestamp,
                )
        raise ValueError(f"unknown file format: {fmt}")

    def _read_arrow_ipc(self, path: str, fmt: str) -> DataFrame:
        """Feather / Arrow IPC stream → DataFrame via Arrow interchange.

        Spark has no native Feather reader (reference reads with
        feather.read_table / ipc.open_stream, kukur/source/feather/feather.py
        :32-40, arrows/arrows.py:17-41); files are read driver-side with
        pyarrow and handed to Spark over the Arrow createDataFrame fast path.
        Fine for the small per-series files this layout implies; large data
        belongs in parquet/delta.
        """
        import pyarrow as pa
        import pyarrow.feather
        import pyarrow.ipc

        paths = sorted(globlib.glob(path)) if any(c in path for c in "*?[") else [path]
        tables = []
        for one in paths:
            if fmt == "feather":
                tables.append(pyarrow.feather.read_table(one))
            else:
                with pa.OSFile(one, "rb") as handle:
                    tables.append(pyarrow.ipc.open_stream(handle).read_all())
        table = pa.concat_tables(tables)
        return self.spark.createDataFrame(table.to_pandas())

    # ------------------------------------------------------------------
    # normalization
    # ------------------------------------------------------------------
    def _map_columns(self, df: DataFrame) -> DataFrame:
        """Rename external columns to canonical names; keep the rest.

        Parity: reference kukur/source/arrow.py:351-380.
        """
        mapping = self.options.column_mapping
        if not mapping:
            return df
        # mapping is canonical -> external (reference orientation)
        renames = {ext: canon for canon, ext in mapping.items()}
        return df.select(
            [F.col(c).alias(renames.get(c, c)) for c in df.columns]
        )

    def _positional_columns(self, df: DataFrame) -> DataFrame:
        """Headerless CSV: assign names by position — tags, ts, fields[, quality]."""
        opts = self.options
        names = list(opts.tag_columns) + [TS_COLUMN] + list(opts.field_columns)
        if len(df.columns) == len(names) + 1:
            names.append(QUALITY_COLUMN)
        return df.toDF(*names[: len(df.columns)])

    def _normalize_ts(self, df: DataFrame, column: str = TS_COLUMN) -> DataFrame:
        """strptime → assume-timezone → cast to UTC timestamp.

        Parity: reference kukur/source/arrow.py:254-282.
        """
        opts = self.options
        col = _literal_col(column)  # dotted column names stay literal
        if opts.data_datetime_format is not None:
            col = F.to_timestamp(col, opts.data_datetime_format)
        elif not isinstance(df.schema[column].dataType, T.TimestampType):
            col = F.to_timestamp(col)
        if opts.data_timezone is not None:
            # naive timestamps are wall-clock in data_timezone
            col = F.to_utc_timestamp(col, opts.data_timezone)
        return df.withColumn(column, col)

    def _cast_value(self, df: DataFrame, column: str) -> Column:
        """Value column typing: float64 unless the first value is a string.

        Parity: reference kukur/source/arrow.py:235-241. An explicit
        ``value_type`` config skips the sniff.
        """
        opts = self.options
        declared = opts.value_type
        dtype = df.schema[column].dataType
        if declared is not None:
            target = declared
        elif isinstance(dtype, T.StringType):
            # sniffed per series: the caller's plan cache holds the
            # result per selector
            first = df.select(column).filter(df[column].isNotNull()).first()
            sample = first[0] if first is not None else None
            # the sniff honors the configured decimal separator: "1,5" is a
            # number only when csv_decimal_point = "," — otherwise it must
            # classify as string (a blind double cast would null every row)
            target = (
                "string"
                if sample is not None
                and not _is_number(sample, opts.decimal_point)
                else "double"
            )
        elif isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            target = "bigint"
        elif isinstance(dtype, T.DoubleType) or isinstance(dtype, T.FloatType):
            target = "double"
        else:
            target = "double"
        col = F.col(column)
        if target == "double" and opts.decimal_point != ".":
            col = F.regexp_replace(col.cast("string"), opts.decimal_point, ".")
        return col.cast(target)

    # ------------------------------------------------------------------
    # canonical long frame (row layout); the engine's internal shape
    # ------------------------------------------------------------------
    def data_frame(self) -> DataFrame:
        """The whole source as a canonical long DataFrame.

        Row layout: ``tag…, ts, field…[, quality]``. Pivot and dir layouts
        are converted on read (melt / path-partition extraction), so every
        downstream operator sees the same shape.  Plan-cached (see
        :meth:`_plan_cached`) — the melt/normalize chain re-analyzes
        otherwise on every verb call.
        """
        return self._plan_cached(
            ("data_frame",), self.options.path, self._data_frame_uncached
        )

    def _data_frame_uncached(self) -> DataFrame:
        opts = self.options
        if opts.format == "row":
            df = self._read_raw()
            if opts.file_format == "csv" and not opts.header:
                df = self._positional_columns(df)
            df = self._map_columns(df)
            if opts.ts_column != TS_COLUMN and opts.ts_column in df.columns:
                df = df.withColumnRenamed(opts.ts_column, TS_COLUMN)
            return self._normalize_ts(df)
        if opts.format == "pivot":
            return self._melt_pivot()
        if opts.format == "dir":
            return self._read_dir_all()
        raise ValueError(f"unknown layout: {opts.format}")

    def _melt_pivot(self) -> DataFrame:
        """Wide → long with ``unpivot`` (never operate wide).

        The native unpivot API takes column identifiers, not SQL text, so
        series names containing quotes/backticks cannot break the plan
        (a string-built ``stack`` expression could).
        """
        df = self._read_raw()
        ts_col = df.columns[0]
        series_cols = df.columns[1:]
        df = self._normalize_ts(df, ts_col)
        normalized = df.select(
            F.col(ts_col).alias(TS_COLUMN),
            *[F.col(f"`{c}`").cast("string").alias(c) for c in series_cols],
        )
        melted = normalized.unpivot(
            ids=[TS_COLUMN],
            values=series_cols,
            variableColumnName=SERIES_NAME_TAG,
            valueColumnName=VALUE_COLUMN,
        )
        return melted.select(f"`{SERIES_NAME_TAG}`", TS_COLUMN, VALUE_COLUMN)

    # ------------------------------------------------------------------
    # dir layout helpers
    # ------------------------------------------------------------------
    def _extension(self) -> str:
        opts = self.options
        if opts.file_extension:
            return opts.file_extension
        return {
            "csv": ".csv",
            "parquet": ".parquet",
            "orc": ".orc",
            "ndjson": ".ndjson",
            "feather": ".feather",
            "arrows": ".arrows",
        }.get(opts.file_format, ".csv")

    def _series_path(self, selector: SeriesSelector) -> str:
        name = selector.tags.get(SERIES_NAME_TAG, selector.name)
        if self.options.path_encoding == "base64":
            # standard alphabet for parity with reference-written datasets
            # (kukur/source/arrow.py:206 uses b64encode, not urlsafe)
            name = base64.b64encode(name.encode()).decode()
        return os.path.join(self.options.path, name + self._extension())

    def _dir_series_names(self) -> List[str]:
        ext = self._extension()
        names = []
        for path in sorted(globlib.glob(os.path.join(self.options.path, f"*{ext}"))):
            stem = os.path.basename(path)[: -len(ext)]
            if self.options.path_encoding == "base64":
                stem = base64.b64decode(stem.encode()).decode()
            names.append(stem)
        return names

    def _read_dir_file(self, selector: SeriesSelector) -> DataFrame:
        path = self._series_path(selector)
        df = self._read_raw(path)
        if self.options.file_format == "csv" and not self.options.header:
            names = [TS_COLUMN, VALUE_COLUMN]
            if len(df.columns) == 3:
                names.append(QUALITY_COLUMN)
            df = df.toDF(*names[: len(df.columns)])
        df = self._map_columns(df)
        # reference parity (arrow.py:215-216): dir-layout columns are
        # positional — whatever their stored names (e.g. IP_TREND_TIME /
        # IP_TREND_VALUE), the first columns become ts, value[, quality]
        names = [TS_COLUMN, VALUE_COLUMN]
        if self.options.quality_mapper is not None and len(df.columns) >= 3:
            names.append(QUALITY_COLUMN)
        if df.columns[: len(names)] != names:
            df = df.toDF(*names, *df.columns[len(names):])
        return self._normalize_ts(df)

    def _read_dir_all(self) -> DataFrame:
        frames = []
        for name in self._dir_series_names():
            selector = SeriesSelector.from_tags(self.name, {SERIES_NAME_TAG: name})
            frames.append(
                self._read_dir_file(selector).withColumn(
                    SERIES_NAME_TAG, F.lit(name)
                )
            )
        if not frames:
            raise FileNotFoundError(self.options.path)
        out = frames[0]
        for frame in frames[1:]:
            out = out.unionByName(frame, allowMissingColumns=True)
        return out.select(
            F.col(SERIES_NAME_TAG), TS_COLUMN,
            *[c for c in out.columns if c not in (SERIES_NAME_TAG, TS_COLUMN)],
        )

    # ------------------------------------------------------------------
    # 4-verb API
    # ------------------------------------------------------------------
    def _plan_cached(self, key, path: str, builder):
        """``builder()``'s handle, reused while the files under ``path``
        are unchanged: driver-side plan analysis dominates the small
        repeated verb calls of the federated hot path ~10:1 (reference
        kukur/flight.py:95-101).  The nested lookups of one call (series →
        data_frame → raw) share one fingerprint per path."""
        seen = getattr(_CALL, "fingerprints", None)
        if seen is None:
            _CALL.fingerprints = {}
            try:
                return self._plan_cached(key, path, builder)
            finally:
                _CALL.fingerprints = None
        if path not in seen:
            seen[path] = fingerprint(path)
        return PLANS.get((self, key), seen[path], builder)

    def search_df(self, search: SeriesSearch) -> DataFrame:
        """Plan-cached wrapper over :meth:`_search_df_uncached` (see
        :meth:`_plan_cached`)."""
        return self._plan_cached(
            _search_key(search),
            self.options.path,
            lambda: self._search_df_uncached(search),
        )

    def _search_rows(self, search: SeriesSearch) -> list:
        """The collected rows of :meth:`search_df`, one ``collect`` per
        miss; kept in the plan cache when there are at most
        ``MAX_CACHED_SEARCH_ROWS`` (a larger population is stored as
        ``None`` and collected on every call)."""
        collected: list = []

        def collect():
            collected.append(self.search_df(search).collect())
            rows = collected[0]
            return rows if len(rows) <= MAX_CACHED_SEARCH_ROWS else None

        rows = self._plan_cached(
            _search_key(search) + ("rows",), self.options.path, collect
        )
        if rows is not None:
            return rows
        if not collected:
            collect()
        return collected[0]

    def _search_df_uncached(self, search: SeriesSearch) -> DataFrame:
        """Distributed series discovery: one row per series (tags + field).

        SURVEY.md §3.2 frames search as a metadata DataFrame; this is the
        scale path — the row-format branch never materializes tag combos on
        the driver.  ``distinct()`` runs on the executors, search-tag
        predicates push into the parquet scan (``PushedFilters``), and the
        tags×fields expansion is a crossJoin against a literal fields frame
        (reference semantics: kukur/source/arrow.py:183-189 group-by tags,
        kukur/source/sql.py:287-304 tags×fields).
        """
        opts = self.options
        if opts.format == "dir":
            names = self._dir_series_names()
            combos = self.spark.createDataFrame(
                [(n,) for n in names], f"`{SERIES_NAME_TAG}` string"
            )
            tag_cols = [SERIES_NAME_TAG]
        elif opts.format == "pivot":
            columns = self._read_raw().columns[1:]
            combos = self.spark.createDataFrame(
                [(c,) for c in columns], f"`{SERIES_NAME_TAG}` string"
            )
            tag_cols = [SERIES_NAME_TAG]
        else:
            df = self.data_frame()
            tag_cols = [c for c in opts.tag_columns if c in df.columns]
            combos = df.select(
                [_literal_col(c).cast("string").alias(c) for c in tag_cols]
            ).distinct()
        if search.tags:
            for key, value in search.tags.items():
                if key in tag_cols:
                    combos = combos.filter(_literal_col(key) == F.lit(value))
                else:
                    # a tag key the source does not carry matches nothing
                    combos = combos.filter(F.lit(False))
        fields = opts.field_columns if opts.format == "row" else [DEFAULT_FIELD]
        # field_idx keeps the configured field order (reference iterates
        # field_columns in config order, not alphabetically)
        fields_df = self.spark.createDataFrame(
            list(enumerate(fields)), "field_idx int, field string"
        )
        return (
            combos.crossJoin(F.broadcast(fields_df))
            .orderBy(*[_literal_col(c) for c in tag_cols], "field_idx")
            .drop("field_idx")
        )

    def search(
        self, search: SeriesSearch
    ) -> Iterator[Union[SeriesSelector, Metadata]]:
        """Series discovery over the rows of ``search_df``.

        The rows are collected once and, up to ``MAX_CACHED_SEARCH_ROWS``,
        kept in the plan cache under the source's fingerprint, so a
        repeated search runs no Spark job and a changed file is seen on
        the next call.  The metadata of each result is looked up per call.

        Parity: reference kukur/source/arrow.py:183-189 (group-by tags) and
        tags×fields expansion kukur/source/sql.py:287-304. When a metadata
        file is configured, full Metadata rows are yielded instead
        (reference csv metadata, kukur/source/csv/csv.py).
        """
        metadata_by_key = (
            self._metadata_index() if self.options.metadata_path else {}
        )
        for row in self._search_rows(search):
            combo = row.asDict()
            fld = combo.pop("field")
            tags = {k: str(v) for k, v in combo.items()}
            selector = SeriesSelector(self.name, tags, fld)
            if metadata_by_key:
                yield self._lookup_metadata(selector, metadata_by_key)
            else:
                yield selector

    def get_metadata(self, selector: SeriesSelector) -> Metadata:
        if self.options.metadata_path is None:
            return Metadata(selector)
        return self._lookup_metadata(selector, self._metadata_index())

    def get_data(
        self, selector: SeriesSelector, start: datetime, end: datetime
    ) -> DataFrame:
        """(ts, value[, quality]) for one series in half-open [start, end).

        The range-independent prefix (read → tag filter → casts → sort →
        conform) is plan-cached per selector (see :meth:`_plan_cached`);
        only the two range predicates are built per call — the verb hot
        path repeats selectors far more often than plans change.  The
        filter-after-sort order is plan-neutral (Catalyst pushes the
        predicate below the Sort).  Sources with configured partition
        pruning skip the cache: their pruning predicates derive from the
        requested range itself.
        """
        opts = self.options
        if opts.timestamp_partition_columns or opts.partitions:
            base = self._series_frame(selector, start, end)
        else:
            key = ("series", tuple(sorted(selector.tags.items())), selector.field)
            # a dir-layout series is one file: stat it, not the directory
            path = self._series_path(selector) if opts.format == "dir" else opts.path
            base = self._plan_cached(
                key, path, lambda: self._series_frame(selector, None, None)
            )
        return base.filter(
            (F.col(TS_COLUMN) >= F.lit(start)) & (F.col(TS_COLUMN) < F.lit(end))
        )

    def _series_frame(
        self,
        selector: SeriesSelector,
        start: Optional[datetime],
        end: Optional[datetime],
    ) -> DataFrame:
        """One series' conformed frame WITHOUT the range filter (applied
        by :meth:`get_data` on top); ``start``/``end`` feed only the
        configured partition pruning when present."""
        opts = self.options
        if opts.format == "dir":
            df = self._read_dir_file(selector)
            value_col = VALUE_COLUMN
        elif opts.format == "pivot":
            df = self._read_raw()
            ts_col = df.columns[0]
            if selector.tags.get(SERIES_NAME_TAG) not in df.columns:
                raise KeyError(
                    f"series {selector.name!r} not a column of pivot source"
                )
            # backtick-quoted literal references: plain F.col()/df[name]
            # parse dots as struct access and crash on "sensor.1"
            normalized = self._normalize_ts(df, ts_col)
            df = normalized.select(
                _literal_col(ts_col).alias(TS_COLUMN),
                _literal_col(selector.tags[SERIES_NAME_TAG]).alias(VALUE_COLUMN),
            )
            value_col = VALUE_COLUMN
        else:
            df = self.data_frame()
            for key, value in selector.tags.items():
                if key in df.columns:
                    df = df.filter(F.col(key) == F.lit(value))
            value_col = selector.field if selector.field in df.columns else VALUE_COLUMN

        cols = [F.col(TS_COLUMN), self._cast_value(df, value_col).alias(VALUE_COLUMN)]
        if QUALITY_COLUMN in df.columns:
            # reference parity: the quality column participates only when a
            # quality_mapping is configured (kukur csv.py:320-321 /
            # arrow.py:193-194, is_present()); an unmapped *typed* quality
            # column (parquet int8) passes through as a superset, but an
            # unmapped string column is dropped — not blind-cast (ANSI
            # would throw on e.g. "GoodQuality").
            mapper = opts.quality_mapper
            if mapper is not None:
                cols.append(
                    mapper.expr(F.col(QUALITY_COLUMN)).alias(QUALITY_COLUMN)
                )
            elif not isinstance(
                df.schema[QUALITY_COLUMN].dataType, T.StringType
            ):
                cols.append(
                    F.col(QUALITY_COLUMN).cast("byte").alias(QUALITY_COLUMN)
                )
        if opts.timestamp_partition_columns and start is not None:
            # enumerate the range into partition predicates while the
            # ts-derived partition columns are still in scope (M-parity of
            # the reference's Delta partition enumeration)
            from kukur_spark.operators.partitions import prune_time_partitions

            df = prune_time_partitions(
                df, start, end, opts.timestamp_partition_columns
            )
        if opts.partitions and start is not None:
            # configured partition entries (reference Delta parity):
            # timestamp-origin entries become formatted IN filters on the
            # partition column; tag-origin entries are already covered by
            # the tag equality filter above
            from kukur_spark.operators.partitions import (
                prune_configured_partitions,
            )

            df = prune_configured_partitions(df, start, end, opts.partitions)
        df = df.select(cols)
        if opts.sort_by_timestamp:
            df = df.orderBy(TS_COLUMN)
        return conform(df)

    def get_plot_data(
        self,
        selector: SeriesSelector,
        start: datetime,
        end: datetime,
        interval_count: int = 200,
    ) -> DataFrame:
        """Native bucketed downsampling for every source (SURVEY.md W2/M4)."""
        return plot_downsample(
            self.get_data(selector, start, end), start, end, interval_count
        )

    def get_source_structure(self, _: SeriesSearch) -> SourceStructure:
        opts = self.options
        if opts.format != "row":
            names = (
                self._dir_series_names()
                if opts.format == "dir"
                else list(self._read_raw().columns[1:])
            )
            return SourceStructure(
                [DEFAULT_FIELD],
                [SERIES_NAME_TAG],
                [{"key": SERIES_NAME_TAG, "values": names}],
            )
        df = self.data_frame()
        # one aggregation job for every tag column (previously one Spark
        # job per column): collect_set partial-aggregates map-side, so the
        # shuffle carries per-partition distinct sets only. The result is
        # driver-materialized by API contract (SourceStructure returns
        # value lists) — same bound as the reference.
        tag_cols = [c for c in opts.tag_columns if c in df.columns]
        row = df.agg(
            *[
                F.sort_array(F.collect_set(_literal_col(c))).alias(c)
                for c in tag_cols
            ]
        ).collect()[0]
        tag_values = [
            {"key": key, "values": list(row[key])} for key in tag_cols
        ]
        return SourceStructure(
            list(opts.field_columns), list(opts.tag_columns), tag_values
        )

    # ------------------------------------------------------------------
    # metadata files
    # ------------------------------------------------------------------
    def _metadata_index(self) -> Dict[tuple, Dict[str, str]]:
        """The metadata CSV as {(series key): {field: value}}, plan-cached:
        the search fan-out calls get_metadata once per series."""
        return self._plan_cached(
            ("metadata",), self.options.metadata_path, self._read_metadata_index
        )

    def _read_metadata_index(self) -> Dict[tuple, Dict[str, str]]:
        opts = self.options
        df = self.spark.read.csv(
            opts.metadata_path, header=True, encoding=self._spark_encoding()
        )
        rows = df.collect()
        # external→kukur column renames apply BEFORE indexing so a mapped
        # series-name column (e.g. ip21's NAME) still keys the index
        # (reference kukur/source/metadata.py maps tag columns too)
        from_external = {
            str(external): kukur
            for kukur, external in opts.metadata_mapping.items()
        }
        index: Dict[tuple, Dict[str, str]] = {}
        for row in rows:
            data = {
                from_external.get(k, k): v
                for k, v in row.asDict().items()
                if v not in (None, "")
            }
            # key over ALL configured tag columns (missing cells as "") —
            # must mirror _lookup_metadata exactly or sparse rows become
            # silently unfindable
            key_cols = list(opts.tag_columns) or [SERIES_NAME_TAG]
            key = tuple(str(data.get(c, "")) for c in key_cols)
            if opts.metadata_field_column and opts.metadata_field_column in data:
                key = key + (data[opts.metadata_field_column],)
            index[key] = data
        return index

    def _lookup_metadata(
        self, selector: SeriesSelector, index: Dict[tuple, Dict[str, str]]
    ) -> Metadata:
        opts = self.options
        key_cols = [c for c in opts.tag_columns] or [SERIES_NAME_TAG]
        key = tuple(selector.tags.get(c, "") for c in key_cols)
        data = index.get(key + (selector.field,)) if opts.metadata_field_column else None
        if data is None:
            data = index.get(key, {})
        # column names were already normalized external→kukur while
        # building the index (see _metadata_index)
        metadata = Metadata(selector)
        allowed = set(opts.metadata_fields) or None
        for name, value in data.items():
            if name in opts.tag_columns or name == opts.metadata_field_column:
                continue
            if allowed is not None and name not in allowed:
                continue
            mapped = name
            # value mapping: {kukur_field: {kukur_value: external-or-list}}
            value_map = opts.metadata_value_mapping.get(mapped, {})
            reverse_values = {}
            for kukur_value, externals in value_map.items():
                if isinstance(externals, (list, tuple)):
                    for external in externals:
                        reverse_values[str(external)] = kukur_value
                else:
                    reverse_values[str(externals)] = kukur_value
            metadata.set_field_by_name(
                mapped, reverse_values.get(str(value), value)
            )
        dictionary_name = metadata.get_field_by_name("dictionary name")
        if dictionary_name and opts.dictionary_dir:
            metadata.set_field_by_name(
                "dictionary", self._read_dictionary(dictionary_name)
            )
        return metadata

    def _read_dictionary(self, name: str):
        from kukur_spark.base import Dictionary

        path = os.path.join(self.options.dictionary_dir, f"{name}.csv")
        rows = self.spark.read.csv(
            path, header=False, encoding=self._spark_encoding()
        ).collect()
        return Dictionary({int(r[0]): r[1] for r in rows})

    def _spark_encoding(self) -> str:
        """Spark-supported charset for the configured file encoding (the
        same windows-125x→latin-1 mapping the data reader applies)."""
        enc = self.options.encoding or "UTF-8"
        return {
            "cp1252": "iso-8859-1",
            "windows-1252": "iso-8859-1",
            "latin1": "iso-8859-1",
        }.get(enc.lower(), enc)


def _is_number(value: str, decimal_point: str = ".") -> bool:
    text = str(value)
    if decimal_point != ".":
        text = text.replace(decimal_point, ".")
    try:
        float(text)
        return True
    except (TypeError, ValueError):
        return False

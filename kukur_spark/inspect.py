"""Inspect: list and preview data resources (files and directories).

Parity target: reference inspect family (SURVEY.md S21-S24):
``kukur/inspect/arrow.py:27-34,138-180`` (extension classification),
``kukur/inspect/filesystem.py:16-37`` (listing + preview). Blob stores map
to Hadoop FS schemes in Spark (s3a://, abfss://) through the same
``spark.read`` calls — path handling is identical.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

PREVIEW_ROWS = 5000  # reference kukur/inspect/filesystem.py:31

# extension → resource type (reference kukur/inspect/arrow.py:27-34)
EXTENSION_TYPES = {
    ".parquet": "parquet",
    ".pq": "parquet",
    ".arrow": "arrow",
    ".feather": "arrow",
    ".arrows": "arrows",
    ".csv": "csv",
    ".txt": "csv",
    ".gpx": "gpx",
    ".xlsx": "excel",
    ".ndjson": "ndjson",
    ".jsonl": "ndjson",
    ".json": "ndjson",
    ".orc": "orc",
}


@dataclass
class InspectedPath:
    path: str
    resource_type: str  # directory | delta | parquet | csv | ...


def inspect_path(
    path: str,
    recursive: bool = False,
    spark: Optional[SparkSession] = None,
    detect_delta: bool = True,
    default_resource_type: Optional[str] = None,
) -> List[InspectedPath]:
    """Classify directory entries by extension; detect Delta table dirs.

    URI paths (``s3a://…``, ``abfss://…``, ``file://…``) list through the
    Hadoop FileSystem of the Spark session — one code path for every blob
    store Hadoop speaks (reference blob variants: kukur/inspect/blob.py,
    s3.py, adls.py). Plain paths list via ``os`` and need no session.

    Options mirror the reference's ``FileOptions``
    (kukur/inspect/__init__.py): ``detect_delta`` toggles Delta-dir
    classification (the reference defaults it OFF; this engine defaults
    it ON because a raw-parquet read of a Delta dir would resurrect
    tombstoned files — pass False for reference-exact listings), and
    ``default_resource_type`` classifies extensionless files
    (reference ``test_default_resource_type``) instead of skipping them.
    """
    if "://" in path:
        if spark is None:
            raise ValueError(
                f"listing {path!r} needs a SparkSession (Hadoop FileSystem)"
            )
        return _inspect_hadoop(
            spark,
            path,
            recursive,
            detect_delta=detect_delta,
            default_resource_type=default_resource_type,
        )
    results: List[InspectedPath] = []
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if os.path.isdir(full):
            if detect_delta and os.path.isdir(
                os.path.join(full, "_delta_log")
            ):
                results.append(InspectedPath(full, "delta"))
            else:
                results.append(InspectedPath(full, "directory"))
                if recursive:
                    results.extend(
                        inspect_path(
                            full,
                            recursive=True,
                            detect_delta=detect_delta,
                            default_resource_type=default_resource_type,
                        )
                    )
        else:
            ext = os.path.splitext(entry)[1].lower()
            resource_type = EXTENSION_TYPES.get(ext, default_resource_type)
            if resource_type:
                results.append(InspectedPath(full, resource_type))
    return results


def _inspect_hadoop(
    spark: SparkSession,
    path: str,
    recursive: bool,
    detect_delta: bool = True,
    default_resource_type: Optional[str] = None,
) -> List[InspectedPath]:
    """List one level (or recursively) through Hadoop FileSystem.

    ``detect_delta`` / ``default_resource_type`` behave exactly as in
    the plain-path branch of :func:`inspect_path` — URI listings honor
    the same FileOptions the CLI exposes.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    results: List[InspectedPath] = []
    statuses = sorted(
        fs.listStatus(jpath), key=lambda s: s.getPath().toString()
    )
    for status in statuses:
        full = status.getPath().toString()
        if status.isDirectory():
            delta_log = jvm.org.apache.hadoop.fs.Path(full + "/_delta_log")
            if detect_delta and fs.exists(delta_log):
                results.append(InspectedPath(full, "delta"))
            else:
                results.append(InspectedPath(full, "directory"))
                if recursive:
                    results.extend(
                        _inspect_hadoop(
                            spark,
                            full,
                            True,
                            detect_delta=detect_delta,
                            default_resource_type=default_resource_type,
                        )
                    )
        else:
            ext = os.path.splitext(full)[1].lower()
            resource_type = EXTENSION_TYPES.get(ext, default_resource_type)
            if resource_type:
                results.append(InspectedPath(full, resource_type))
    return results


def preview(
    spark: SparkSession,
    inspected: InspectedPath,
    num_rows: int = PREVIEW_ROWS,
    columns: Optional[List[str]] = None,
    csv_delimiter: str = ",",
    csv_header_row: bool = True,
) -> DataFrame:
    """First ``num_rows`` of a resource as a DataFrame (df.limit).

    ``csv_delimiter`` / ``csv_header_row`` mirror the reference's
    ``DataOptions`` (kukur/inspect/__init__.py; exercised by reference
    ``test_read_filesystem_csv_delimiter_semicolon`` /
    ``_csv_no_header_row``); ``columns`` mirrors
    ``DataOptions.column_names``.
    """
    rt = inspected.resource_type
    if rt == "parquet":
        df = spark.read.parquet(inspected.path)
    elif rt == "csv":
        df = spark.read.csv(
            inspected.path, header=csv_header_row, sep=csv_delimiter
        )
    elif rt == "orc":
        try:
            df = spark.read.orc(inspected.path)
            df.schema  # force analysis: TIMESTAMP_INSTANT columns fail here
        except Exception:
            # ORC TIMESTAMP_INSTANT ("timestamp with local time zone")
            # breaks Spark's reader; read driver-side via pyarrow instead
            import pyarrow.orc

            table = pyarrow.orc.read_table(inspected.path)
            df = spark.createDataFrame(table.to_pandas())
    elif rt == "ndjson":
        df = spark.read.json(inspected.path)
    elif rt == "delta":
        try:
            df = spark.read.format("delta").load(inspected.path)
        except Exception:
            from kukur_spark.sources.delta_log import read_delta

            df = read_delta(spark, inspected.path)
    elif rt == "excel":
        from kukur_spark.sources.excel import ExcelSource

        df = ExcelSource(
            spark, "inspect", {"path": inspected.path}
        )._frame()
    elif rt in ("arrow", "arrows"):
        import pyarrow as pa
        import pyarrow.feather
        import pyarrow.ipc

        if rt == "arrow":
            table = pa.feather.read_table(inspected.path)
        else:
            with pa.OSFile(inspected.path, "rb") as handle:
                table = pa.ipc.open_stream(handle).read_all()
        df = spark.createDataFrame(table.to_pandas())
    else:
        raise NotImplementedError(f"preview of {rt} not supported")
    if columns:
        df = df.select(columns)
    return df.limit(num_rows)

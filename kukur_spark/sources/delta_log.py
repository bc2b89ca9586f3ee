"""Delta Lake transaction-log reader — no delta-spark jars required.

The Delta protocol is an open spec (delta.io PROTOCOL.md; reference
implementation kukur/source/delta/delta_lake.py:188-274 reads tables via
deltalake-python): a table is parquet data files plus ``_delta_log/``
holding ordered JSON commits and periodic parquet checkpoints. The
active snapshot is the checkpoint's file set with later commits' add
and remove actions replayed on top.

This module computes that snapshot with pyarrow + stdlib json and hands
Spark the live file list; ``file_source`` reads them with ``basePath``
so hive-style partition directories still resolve to partition columns
and Catalyst still prunes. The semantics delta-spark would give a
read-only scan — tombstone exclusion, schema from ``metaData``,
partition columns — are reproduced engine-side.  Column mapping
(name mode) is read via the physical→logical rename in ``read_delta``;
deletion vectors are applied via a broadcast anti-join on the scan's
``_metadata.row_index`` (decoding in ``delta_dv``); type widening is
read by declaring the log's (widened) schema to the scan so Spark's
parquet reader upcasts pre-widen files; id-mode column mapping rides
Spark's parquet field-id matching (``parquet.field.id`` metadata on
the declared schema).

Reader-feature support matrix (gate: ``_reject_unsupported``):

- **read transparently**: ``columnMapping`` (name + id modes),
  ``deletionVectors``, ``v2Checkpoint``, ``timestampNtz``,
  ``typeWidening[-preview]``, ``variantType[-preview]`` and
  ``variantShredding[-preview]`` (Spark 4.1's parquet reader handles
  both the plain variant encoding and shredded ``typed_value``
  subcolumn reassembly natively when the declared schema says
  ``variant``).
- **writer-only features are ignored by design** — ``rowTracking``,
  ``domainMetadata``, ``appendOnly``, ``invariants``, ``checkConstraints``,
  ``generatedColumns``, ``identityColumns``, ``icebergCompatV*``,
  ``inCommitTimestamp`` — none constrain a reader.  ICT is still
  *honored* where it matters: ``version_at_timestamp`` prefers
  ``commitInfo.inCommitTimestamp`` over the wall-clock field, with
  delta-spark's monotonization.
- **rejected loudly** (``NotImplementedError``, never a misread): any
  ``minReaderVersion > 3`` and any reader feature not listed above —
  future protocol additions fail closed.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Dict, List, Optional
from urllib.parse import unquote


@dataclass
class DeltaSnapshot:
    version: int
    files: List[str]  # absolute paths of live data files
    partition_values: Dict[str, Dict[str, str]]  # path -> partition map
    schema_json: Optional[str] = None  # Spark StructType JSON
    partition_columns: List[str] = field(default_factory=list)
    configuration: Dict[str, str] = field(default_factory=dict)
    # path -> add.deletionVector descriptor for files with deleted rows
    deletion_vectors: Dict[str, dict] = field(default_factory=dict)
    # protocol readerFeatures (v3 tables); [] for v1/v2 tables
    reader_features: List[str] = field(default_factory=list)


def _checkpoint_paths(log_dir: str, version: int, parts: Optional[int]):
    if parts:
        return [
            os.path.join(
                log_dir,
                f"{version:020d}.checkpoint.{p:010d}.{parts:010d}.parquet",
            )
            for p in range(1, parts + 1)
        ]
    return [os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")]


def _reject_unsupported(protocol: dict) -> None:
    reader_version = int(protocol.get("minReaderVersion", 1))
    features = protocol.get("readerFeatures") or []
    # columnMapping, deletionVectors and v2Checkpoint are read-supported
    # (physical→logical rename + DV anti-join + manifest/sidecar replay
    # below; the reference reads these transparently via delta-rs:
    # kukur/source/delta/delta_lake.py:188-274).
    supported = {
        "timestampNtz",
        "columnMapping",
        "deletionVectors",
        "v2Checkpoint",
        # read by declaring the log's (widened) schema to the scan —
        # Spark 4's parquet reader upcasts files written before the
        # widening (int→long, float→double, decimal scale growth)
        "typeWidening",
        "typeWidening-preview",
        # the Delta variant encoding IS Spark's parquet variant
        # encoding (metadata/value binary pair + logical annotation);
        # Spark 4 reads it natively — including SHREDDED files: the
        # parquet scan reassembles typed_value subcolumns whenever the
        # requested schema declares `variant` and
        # spark.sql.variant.allowReadingShredded is on (default true on
        # 4.1; read_delta re-asserts it when the feature is present).
        "variantType",
        "variantType-preview",
        "variantShredding",
        "variantShredding-preview",
    }
    unsupported = [f for f in features if f not in supported]
    if reader_version > 3 or (reader_version == 3 and unsupported):
        raise NotImplementedError(
            f"Delta reader features not supported here: "
            f"minReaderVersion={reader_version}, features={unsupported}"
        )
    # reader_version == 2 == column mapping: supported (see below)


def _parquet_actions(path: str):
    """Yield each non-null action of a checkpoint/sidecar parquet row
    as a ``{kind: payload}`` dict (the row layout is one struct column
    per action kind, at most one non-null per row)."""
    import pyarrow.parquet as pq

    for row in pq.read_table(path).to_pylist():
        action = {
            kind: payload
            for kind, payload in row.items()
            if payload is not None
        }
        if action:
            yield action


def _checkpoint_actions(log_dir: str, version: int, parts: Optional[int]):
    """Yield the actions of checkpoint ``version`` — classic single or
    multi-part parquet, or a v2 manifest (``<v>.checkpoint.<uuid>.json``
    / ``.parquet``) whose ``sidecar`` actions point at add/remove
    parquet files under ``_delta_log/_sidecars/``."""
    classic = _checkpoint_paths(log_dir, version, parts)
    if all(os.path.exists(p) for p in classic):
        for part in classic:
            yield from _parquet_actions(part)
        return
    # v2: exactly four dot-segments (<v>.checkpoint.<unique>.<ext>) —
    # multi-part classic names have five
    prefix = f"{version:020d}.checkpoint."
    manifests = sorted(
        name
        for name in os.listdir(log_dir)
        if name.startswith(prefix)
        and name.count(".") == 3
        and name.rsplit(".", 1)[1] in ("json", "parquet")
    )
    if not manifests:
        raise FileNotFoundError(
            f"checkpoint {version} not found in {log_dir}"
        )
    manifest = os.path.join(log_dir, manifests[-1])
    if manifest.endswith(".json"):
        actions = []
        with open(manifest) as handle:
            for line in handle:
                line = line.strip()
                if line:
                    actions.append(json.loads(line))
    else:
        actions = list(_parquet_actions(manifest))
    for action in actions:
        sidecar = action.get("sidecar")
        if sidecar:
            path = sidecar["path"]
            if not os.path.isabs(path):
                path = os.path.join(log_dir, "_sidecars", path)
            yield from _parquet_actions(path)
        elif "checkpointMetadata" in action:
            if int(action["checkpointMetadata"]["version"]) != version:
                raise ValueError(
                    f"v2 checkpoint {manifest} declares version "
                    f"{action['checkpointMetadata']['version']}, "
                    f"expected {version}"
                )
        else:
            yield action


def _normalize_table_path(table_path: str) -> str:
    """Absolute form of a local table path (URIs pass through).

    Every path derived from the table root — snapshot data files, DV
    anti-join keys — must compare equal to the absolute paths Spark
    reports in ``_metadata.file_path``."""
    if "://" in table_path:
        return table_path
    return os.path.abspath(table_path)


def version_at_timestamp(table_path: str, ts_millis: int) -> int:
    """Resolve TIMESTAMP AS OF to a version: the latest commit whose
    timestamp is ≤ ``ts_millis``.

    Each commit's timestamp is its ``commitInfo.inCommitTimestamp``
    (the inCommitTimestamp writer feature stores the authoritative
    clock in the commit itself) when present, else
    ``commitInfo.timestamp``, else the commit file's mtime; like
    delta-spark, timestamps are monotonized (``max(prev + 1ms, ts)``)
    so clock skew between writers can't make time travel
    non-monotonic."""
    log_dir = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table: {log_dir} missing")
    versions = sorted(
        int(name[:20])
        for name in os.listdir(log_dir)
        if len(name) == 25 and name.endswith(".json") and name[:20].isdigit()
    )
    if not versions:
        raise FileNotFoundError(f"no Delta commits found in {log_dir}")
    best = None
    prev = -(1 << 62)
    for v in versions:
        commit = os.path.join(log_dir, f"{v:020d}.json")
        commit_ts = None
        with open(commit) as handle:
            for line in handle:
                line = line.strip()
                if not line:
                    continue
                info = json.loads(line).get("commitInfo")
                if info and info.get("inCommitTimestamp") is not None:
                    commit_ts = int(info["inCommitTimestamp"])
                    break
                if info and info.get("timestamp") is not None:
                    commit_ts = int(info["timestamp"])
                    break
        if commit_ts is None:
            commit_ts = int(os.path.getmtime(commit) * 1000)
        commit_ts = max(commit_ts, prev + 1)
        prev = commit_ts
        if commit_ts <= ts_millis:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts_millis} predates the first available commit "
            f"(version {versions[0]})"
        )
    return best


def read_snapshot(
    table_path: str, version: Optional[int] = None
) -> DeltaSnapshot:
    """Replay the transaction log into a file snapshot.

    ``version`` pins time travel (``VERSION AS OF``): replay stops after
    that commit.  Requesting a version older than the oldest available
    checkpoint (log truncated by retention) or newer than the log fails
    loudly rather than returning a wrong snapshot.

    ``table_path`` is normalized to an absolute path (local paths only —
    the replay walks the log with ``os.listdir``) so the snapshot's file
    paths compare equal to the absolute ``_metadata.file_path`` values
    the DV anti-join in :func:`read_delta` matches against; a relative
    ``table_path`` would otherwise silently match nothing and deleted
    rows would reappear.
    """
    table_path = _normalize_table_path(table_path)
    log_dir = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table: {log_dir} missing")

    start_version = 0
    adds: Dict[str, Dict[str, str]] = {}
    dvs: Dict[str, dict] = {}  # rel path -> deletionVector descriptor
    schema_json: Optional[str] = None
    partition_columns: List[str] = []
    configuration: Dict[str, str] = {}
    reader_features: List[str] = []

    last_checkpoint = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(last_checkpoint) and version is not None:
        with open(last_checkpoint) as handle:
            if int(json.load(handle)["version"]) > version:
                # the checkpoint is already past the pinned version; a
                # full replay from 0 works only if commit 0 still exists
                if not os.path.exists(
                    os.path.join(log_dir, f"{0:020d}.json")
                ):
                    raise ValueError(
                        f"version {version} predates the oldest "
                        "replayable state (log truncated)"
                    )
                last_checkpoint = ""
    if last_checkpoint and os.path.exists(last_checkpoint):
        with open(last_checkpoint) as handle:
            info = json.load(handle)
        cp_version = int(info["version"])
        for action in _checkpoint_actions(
            log_dir, cp_version, info.get("parts")
        ):
            if action.get("protocol"):
                _reject_unsupported(action["protocol"])
                reader_features = list(
                    action["protocol"].get("readerFeatures") or []
                )
            meta = action.get("metaData")
            if meta:
                schema_json = meta.get("schemaString") or schema_json
                partition_columns = list(
                    meta.get("partitionColumns") or partition_columns
                )
                configuration = dict(
                    meta.get("configuration") or configuration
                )
            add = action.get("add")
            if add:
                adds[add["path"]] = dict(add.get("partitionValues") or {})
                dv = add.get("deletionVector")
                if dv:  # a re-add replaces the file's DV (or clears it)
                    dvs[add["path"]] = dict(dv)
                else:
                    dvs.pop(add["path"], None)
            remove = action.get("remove")
            if remove:
                adds.pop(remove["path"], None)
                dvs.pop(remove["path"], None)
        start_version = cp_version + 1

    current = start_version - 1
    v = start_version
    while True:
        if version is not None and v > version:
            break
        commit = os.path.join(log_dir, f"{v:020d}.json")
        if not os.path.exists(commit):
            break
        current = v
        with open(commit) as handle:
            for line in handle:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    _reject_unsupported(action["protocol"])
                    reader_features = list(
                        action["protocol"].get("readerFeatures") or []
                    )
                if "metaData" in action:
                    meta = action["metaData"]
                    schema_json = meta.get("schemaString") or schema_json
                    partition_columns = list(
                        meta.get("partitionColumns") or partition_columns
                    )
                    configuration = dict(
                        meta.get("configuration") or configuration
                    )
                if "add" in action:
                    add = action["add"]
                    adds[add["path"]] = dict(
                        add.get("partitionValues") or {}
                    )
                    dv = add.get("deletionVector")
                    if dv:  # a re-add replaces the file's DV (or clears it)
                        dvs[add["path"]] = dict(dv)
                    else:
                        dvs.pop(add["path"], None)
                if "remove" in action:
                    adds.pop(action["remove"]["path"], None)
                    dvs.pop(action["remove"]["path"], None)
        v += 1
    if current < 0:
        raise FileNotFoundError(f"no Delta commits found in {log_dir}")
    if version is not None and current != version:
        raise ValueError(
            f"version {version} not found (latest replayable: {current})"
        )

    files = []
    partition_values = {}
    deletion_vectors = {}
    for rel_path, pvals in adds.items():
        abs_path = os.path.join(table_path, unquote(rel_path))
        files.append(abs_path)
        partition_values[abs_path] = pvals
        if rel_path in dvs:
            deletion_vectors[abs_path] = dvs[rel_path]
    files.sort()
    return DeltaSnapshot(
        version=current,
        files=files,
        partition_values=partition_values,
        schema_json=schema_json,
        partition_columns=partition_columns,
        configuration=configuration,
        deletion_vectors=deletion_vectors,
        reader_features=reader_features,
    )


def _column_mapping(schema_json: Optional[str]):
    """``[(physical_name, logical_name, logical_type)]`` for a
    column-mapped schema, or ``None`` when the table isn't mapped.

    Column-mapping tables (writer v5+/reader v2, or the ``columnMapping``
    reader feature) store data under per-field physical names
    (``delta.columnMapping.physicalName`` in the schemaString field
    metadata — typically ``col-<uuid>``) while queries use logical
    names.  Only top-level physical names appear as parquet column
    names; nested struct fields are renamed by a position-based struct
    cast to the logical datatype (Spark struct casts match by position
    and relabel), so arbitrary nesting round-trips without Python.
    """
    import pyspark.sql.types as T

    if not schema_json:
        return None
    parsed = json.loads(schema_json)
    fields = parsed.get("fields") or []
    if not any(
        "delta.columnMapping.physicalName" in (f.get("metadata") or {})
        for f in fields
    ):
        return None
    logical = T.StructType.fromJson(parsed)
    out = []
    for raw, fld in zip(fields, logical.fields):
        physical = (raw.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", fld.name
        )
        out.append((physical, fld.name, fld.dataType))
    return out


def _physical_schema(schema_json: str, with_field_ids: bool = False):
    """The parquet-side StructType of a column-mapped table: every
    struct field (at any depth) renamed to its
    ``delta.columnMapping.physicalName``, logical (current, possibly
    widened) types kept.  Declaring this to the scan makes mapped reads
    log-authoritative like unmapped ones: columns added after a file
    was written null-fill instead of failing analysis, and pre-widen
    files upcast to the widened type.

    ``with_field_ids`` (id mode) additionally carries each field's
    ``delta.columnMapping.id`` as ``parquet.field.id`` metadata so
    Spark's reader matches parquet columns by id, ignoring their
    (arbitrary, possibly foreign-engine) names.  Only set in id mode —
    a name-mode file without ids would otherwise error under the
    field-id conf."""
    from pyspark.sql import types as T

    def rename_type(node):
        if isinstance(node, dict):
            kind = node.get("type")
            if kind == "struct":
                return {
                    **node,
                    "fields": [
                        rename_field(f) for f in node.get("fields") or []
                    ],
                }
            if kind == "array":
                return {
                    **node, "elementType": rename_type(node["elementType"])
                }
            if kind == "map":
                return {
                    **node,
                    "keyType": rename_type(node["keyType"]),
                    "valueType": rename_type(node["valueType"]),
                }
        return node

    def rename_field(f):
        meta = f.get("metadata") or {}
        out = {
            **f,
            "name": meta.get("delta.columnMapping.physicalName", f["name"]),
            "type": rename_type(f["type"]),
        }
        if with_field_ids and "delta.columnMapping.id" in meta:
            out["metadata"] = {
                "parquet.field.id": int(meta["delta.columnMapping.id"])
            }
        return out

    return T.StructType.fromJson(rename_type(json.loads(schema_json)))


def read_delta(
    spark,
    table_path: str,
    version: Optional[int] = None,
    timestamp=None,
):
    """Read a snapshot of a Delta table as a DataFrame.

    ``version`` gives time travel (VERSION AS OF); ``timestamp`` (a
    ``datetime`` or epoch-millis int) gives TIMESTAMP AS OF via
    :func:`version_at_timestamp` — Spark-side extensions over the
    reference reader (kukur delta_lake.py reads only the latest
    snapshot).  Passing both is rejected, matching delta-spark.

    Live files are handed to the parquet reader with ``basePath`` so
    hive-style partition directories (Delta's physical layout for
    partitioned tables) resolve to partition columns and partition
    pruning keeps working. Tables whose add-actions are not laid out in
    ``col=value`` directories get their partition values injected as
    literal columns per file group instead.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    table_path = _normalize_table_path(table_path)
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "pass either version or timestamp, not both"
            )
        if hasattr(timestamp, "timestamp"):  # datetime
            ts_millis = int(timestamp.timestamp() * 1000)
        elif isinstance(timestamp, str):
            # config-provided delta_timestamp is typically an ISO-8601
            # string (the delta-spark branch feeds it to timestampAsOf
            # verbatim); accept the same here, naive = UTC like the
            # session timezone.  ISO parsing is tried FIRST: compact
            # dates like "20240101" are valid ISO-8601 basic format AND
            # valid ints, and the calendar reading is the intended one
            # (as epoch millis it would be 1970).  Epoch-millis digit
            # strings ("1700000000000") are not parseable as ISO and
            # fall through to int().
            from datetime import datetime, timezone

            try:
                parsed = datetime.fromisoformat(timestamp)
                if parsed.tzinfo is None:
                    parsed = parsed.replace(tzinfo=timezone.utc)
                ts_millis = int(parsed.timestamp() * 1000)
            except ValueError:
                ts_millis = int(timestamp)
        else:
            ts_millis = int(timestamp)
        version = version_at_timestamp(table_path, ts_millis)
    snapshot = read_snapshot(table_path, version)
    # The spec's `id` mode matches parquet columns by field id, not by
    # physicalName — tables written by non-Spark engines in id mode can
    # carry arbitrary parquet column names, so name-matching would
    # silently misread.  Spark's parquet reader matches by id when the
    # requested schema carries ``parquet.field.id`` metadata and the
    # conf below is on; the conf only activates for id-carrying
    # schemas, so enabling it session-wide has no effect on other
    # reads.  Files without ids then fail loudly (ignoreMissing=false
    # default) instead of misreading.  Engine-owned sessions already
    # set it at creation (kukur_spark.session); this covers externally
    # created sessions.  It is deliberately NOT saved-and-restored:
    # parquet consults SQLConf at EXECUTION time, so restoring before
    # the caller's action silently nulls the id-matched columns
    # (probed on Spark 4.1 — see session.py).
    mode = snapshot.configuration.get("delta.columnMapping.mode")
    if mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    if any(f.startswith("variantShredding") for f in snapshot.reader_features):
        # shredded variant files carry typed_value subcolumns; Spark 4.1's
        # parquet reader reassembles them when the requested schema says
        # `variant` and this conf is on (its default).  Re-assert it so a
        # session that disabled it fails toward reassembly, not misread.
        # Same no-restore policy as fieldId above (execution-time conf).
        spark.conf.set("spark.sql.variant.allowReadingShredded", "true")
    mapping = _column_mapping(snapshot.schema_json)
    log_schema = None
    if snapshot.schema_json:
        # the log schema is authoritative: files written before a type
        # widening upcast at the scan, files written before a column was
        # added yield nulls for it (schema evolution).  Mapped tables
        # declare the same schema under physical names — the relabel
        # cast below turns it logical.
        if mapping:
            log_schema = _physical_schema(
                snapshot.schema_json, with_field_ids=(mode == "id")
            )
        else:
            log_schema = T.StructType.fromJson(
                json.loads(snapshot.schema_json)
            )
    if not snapshot.files:
        schema = (
            T.StructType.fromJson(json.loads(snapshot.schema_json))
            if snapshot.schema_json
            else T.StructType([])
        )
        return spark.createDataFrame([], schema)

    def _with_position(scan):
        """Attach the scan-only ``_metadata`` row position for DV
        filtering: filesystem path (scheme stripped, %xx decoded to
        match snapshot paths) + within-file row index.  A literal
        ``+`` is pre-escaped to ``%2B`` so ``url_decode`` (which maps
        ``+`` to a space, query-string style) round-trips it — the
        snapshot side uses :func:`urllib.parse.unquote`, which decodes
        only ``%xx`` sequences."""
        return scan.withColumns(
            {
                "__dv_file": F.url_decode(
                    F.regexp_replace(
                        F.regexp_replace(
                            F.col("_metadata.file_path"), "^[a-z]+:/+", "/"
                        ),
                        r"\+",
                        "%2B",
                    )
                ),
                "__dv_pos": F.col("_metadata.row_index"),
            }
        )

    hive_style = all(
        all(
            f"{column}={value}" in path.split(os.sep)
            or f"{column}=__HIVE_DEFAULT_PARTITION__" in path.split(os.sep)
            for column, value in snapshot.partition_values[path].items()
        )
        for path in snapshot.files
    )
    if not snapshot.partition_columns or hive_style:
        reader = spark.read.option("basePath", table_path)
        if log_schema is not None:
            reader = reader.schema(log_schema)
        df = reader.parquet(*snapshot.files)
        if snapshot.deletion_vectors:
            df = _with_position(df)
    else:
        # non-hive layout: group files by partition tuple, inject literals
        partition_set = set(snapshot.partition_columns)
        if mapping:
            # log_schema carries physical names; partitionColumns logical
            to_physical = {lg: ph for ph, lg, _ in mapping}
            partition_set = {to_physical.get(c, c) for c in partition_set}
        file_schema = (
            T.StructType(
                [f for f in log_schema.fields if f.name not in partition_set]
            )
            if log_schema is not None
            else None
        )
        groups: Dict[tuple, List[str]] = {}
        for path in snapshot.files:
            key = tuple(sorted(snapshot.partition_values[path].items()))
            groups.setdefault(key, []).append(path)
        df = None
        for key, files in sorted(groups.items()):
            group_reader = spark.read
            if file_schema is not None:
                group_reader = group_reader.schema(file_schema)
            part = group_reader.parquet(*files)
            if snapshot.deletion_vectors:
                part = _with_position(part)
            for column, value in key:
                part = part.withColumn(column, F.lit(value))
            df = part if df is None else df.unionByName(part)
    if snapshot.deletion_vectors:
        # Deleted row positions anti-join away.  The bitmap is decoded
        # driver-side (bounded by the DELETED row count — a compaction
        # rewrites heavily-deleted files long before this matters) and
        # broadcast, so the scan stays a plain distributed parquet read
        # with no shuffle on the data side.
        import pyarrow as pa

        from kukur_spark.sources.delta_dv import read_descriptor

        files: List[str] = []
        positions: List[int] = []
        for path, descriptor in sorted(snapshot.deletion_vectors.items()):
            for pos in read_descriptor(table_path, descriptor):
                files.append(path)
                positions.append(pos)
        # Arrow interchange: orders of magnitude faster than pickling a
        # python row list through the py4j bridge for large DVs
        deleted_df = spark.createDataFrame(
            pa.table(
                {
                    "__dv_file": pa.array(files, pa.string()),
                    "__dv_pos": pa.array(positions, pa.int64()),
                }
            ).to_pandas(),
            schema="__dv_file string, __dv_pos long",
        )
        df = df.join(
            F.broadcast(deleted_df), ["__dv_file", "__dv_pos"], "left_anti"
        ).drop("__dv_file", "__dv_pos")
    if mapping:
        # column-mapped table: relabel physical → logical.  The cast
        # relabels nested struct fields by position, so the whole
        # expression stays a JVM-side projection (partition columns —
        # physical-named directories or injected string literals — get
        # their declared logical type from the same cast).
        df = df.select(
            *[
                F.col(physical).cast(dtype).alias(logical)
                for physical, logical, dtype in mapping
            ]
        )
    return df

"""Delta Lake reads without delta-spark: transaction-log replay.

Tables are crafted directly in the open log format (parquet data files
+ `_delta_log` JSON commits / parquet checkpoints), which is exactly
what a Delta writer produces — so these tests exercise the real
protocol: tombstone exclusion, multi-commit replay, checkpoint +
post-checkpoint commits, hive-style partition resolution and pruning.
"""

import json
import os
from datetime import datetime, timezone

import pytest

from kukur_spark.base import SeriesSelector
from kukur_spark.sources.delta_log import read_delta, read_snapshot
from kukur_spark.sources.file_source import FileSource, FileSourceOptions

START = datetime(2020, 1, 1, tzinfo=timezone.utc)
END = datetime(2021, 1, 1, tzinfo=timezone.utc)


def _schema_string(fields):
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": t, "nullable": True, "metadata": {}}
                for n, t in fields
            ],
        }
    )


def _commit(log_dir, version, actions):
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as handle:
        for action in actions:
            handle.write(json.dumps(action) + "\n")


def _meta_action(fields, partition_columns=()):
    return {
        "metaData": {
            "id": "test-table",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema_string(fields),
            "partitionColumns": list(partition_columns),
            "configuration": {},
        }
    }


_PROTOCOL = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _write_parquet(spark, rows, schema, path):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + ".tmp")
    part = [
        f
        for f in os.listdir(path + ".tmp")
        if f.endswith(".parquet") and not f.startswith("_")
    ][0]
    os.replace(os.path.join(path + ".tmp", part), path)


def _make_unpartitioned(spark, root):
    """v0 adds a.parquet+b.parquet; v1 removes b and adds c."""
    os.makedirs(os.path.join(root, "_delta_log"))
    schema = "`series name` string, ts timestamp, value double"
    _write_parquet(
        spark, [("s1", datetime(2020, 1, 1), 1.0)], schema,
        os.path.join(root, "a.parquet"),
    )
    _write_parquet(
        spark, [("s1", datetime(2020, 1, 2), 99.0)], schema,
        os.path.join(root, "b.parquet"),
    )
    _write_parquet(
        spark, [("s2", datetime(2020, 1, 3), 3.0)], schema,
        os.path.join(root, "c.parquet"),
    )
    log_dir = os.path.join(root, "_delta_log")
    fields = [
        ("series name", "string"), ("ts", "timestamp"), ("value", "double")
    ]
    _commit(log_dir, 0, [
        _PROTOCOL,
        _meta_action(fields),
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "b.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    _commit(log_dir, 1, [
        {"remove": {"path": "b.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {"path": "c.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])


def test_snapshot_replays_tombstones(spark, tmp_path):
    root = str(tmp_path / "table")
    _make_unpartitioned(spark, root)
    snapshot = read_snapshot(root)
    assert snapshot.version == 1
    names = sorted(os.path.basename(f) for f in snapshot.files)
    assert names == ["a.parquet", "c.parquet"]  # b tombstoned


def test_read_delta_excludes_removed_rows(spark, tmp_path):
    root = str(tmp_path / "table")
    _make_unpartitioned(spark, root)
    rows = read_delta(spark, root).orderBy("ts").collect()
    # a raw parquet glob would return 3 rows incl. the removed 99.0
    assert [r["value"] for r in rows] == [1.0, 3.0]


def test_file_source_delta_end_to_end(spark, tmp_path):
    root = str(tmp_path / "table")
    _make_unpartitioned(spark, root)
    source = FileSource(
        spark, "d", FileSourceOptions(path=root, file_format="delta")
    )
    data = source.get_data(
        SeriesSelector.from_name("d", "s1"), START, END
    ).collect()
    assert [r["value"] for r in data] == [1.0]


def test_partitioned_delta_prunes(spark, tmp_path):
    root = str(tmp_path / "ptable")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    schema = "ts timestamp, value double"
    for name, day, value in [("s1", 1, 1.0), ("s2", 2, 2.0)]:
        part_dir = os.path.join(root, f"series name={name}")
        os.makedirs(part_dir, exist_ok=True)
        _write_parquet(
            spark, [(datetime(2020, 1, day), value)], schema,
            os.path.join(part_dir, "part.parquet"),
        )
    fields = [
        ("series name", "string"), ("ts", "timestamp"), ("value", "double")
    ]
    _commit(log_dir, 0, [
        _PROTOCOL,
        _meta_action(fields, partition_columns=["series name"]),
        {"add": {"path": "series%20name=s1/part.parquet",
                 "partitionValues": {"series name": "s1"}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "series%20name=s2/part.parquet",
                 "partitionValues": {"series name": "s2"}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    source = FileSource(
        spark, "d", FileSourceOptions(path=root, file_format="delta")
    )
    df = source.get_data(SeriesSelector.from_name("d", "s1"), START, END)
    assert [r["value"] for r in df.collect()] == [1.0]
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the tag predicate must prune partitions, not just filter rows
    assert "PartitionFilters" in plan and "series name" in plan


def test_checkpoint_plus_commits(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "ctable")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    schema = "`series name` string, ts timestamp, value double"
    for name in ("a", "b", "c"):
        _write_parquet(
            spark, [("s1", datetime(2020, 1, 1), float(ord(name)))], schema,
            os.path.join(root, f"{name}.parquet"),
        )
    fields = [
        ("series name", "string"), ("ts", "timestamp"), ("value", "double")
    ]
    # checkpoint at version 1: files a+b live, metaData + protocol rows
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "metaData": None, "add": None, "remove": None},
        {"protocol": None,
         "metaData": {"id": "t", "schemaString": _schema_string(fields),
                      "partitionColumns": []},
         "add": None, "remove": None},
        {"protocol": None, "metaData": None,
         "add": {"path": "a.parquet", "partitionValues": {}}, "remove": None},
        {"protocol": None, "metaData": None,
         "add": {"path": "b.parquet", "partitionValues": {}}, "remove": None},
    ]
    checkpoint_schema = pa.schema([
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
        ])),
        ("remove", pa.struct([("path", pa.string())])),
    ])
    pq.write_table(
        pa.Table.from_pylist(rows, schema=checkpoint_schema),
        os.path.join(log_dir, f"{1:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as handle:
        json.dump({"version": 1, "size": 4}, handle)
    # commit 2: remove a, add c
    _commit(log_dir, 2, [
        {"remove": {"path": "a.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {"path": "c.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    snapshot = read_snapshot(root)
    assert snapshot.version == 2
    names = sorted(os.path.basename(f) for f in snapshot.files)
    assert names == ["b.parquet", "c.parquet"]
    values = sorted(
        r["value"] for r in read_delta(spark, root).collect()
    )
    assert values == [float(ord("b")), float(ord("c"))]


def test_unsupported_reader_features_rejected(spark, tmp_path):
    """Reader v2 (column mapping) is accepted since round 5; genuinely
    unsupported reader features (v3 + deletionVectors, or any v4+)
    still raise loudly instead of misreading."""
    # v2 = column mapping: accepted (read path below has its own tests)
    root = str(tmp_path / "v2table")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _meta_action([("value", "double")]),
    ])
    assert read_snapshot(root).version == 0

    # v3 with an unsupported reader feature: rejected
    root = str(tmp_path / "v3table")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["someFutureFeature"]}},
    ])
    with pytest.raises(NotImplementedError, match="someFutureFeature"):
        read_snapshot(root)

    # v3 with only supported features: accepted
    root = str(tmp_path / "v3ok")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["timestampNtz", "columnMapping",
                                         "deletionVectors",
                                         "v2Checkpoint", "typeWidening"]}},
        _meta_action([("value", "double")]),
    ])
    assert read_snapshot(root).version == 0

    # any v4+: rejected regardless of features
    root = str(tmp_path / "v4table")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 4, "minWriterVersion": 7}},
    ])
    with pytest.raises(NotImplementedError):
        read_snapshot(root)


def _mapped_field(name, dtype, field_id, physical, metadata=None):
    meta = {
        "delta.columnMapping.id": field_id,
        "delta.columnMapping.physicalName": physical,
    }
    meta.update(metadata or {})
    return {"name": name, "type": dtype, "nullable": True, "metadata": meta}


def _mapped_meta_action(fields, partition_columns=(), mode="name"):
    return {
        "metaData": {
            "id": "mapped-table",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}
            ),
            "partitionColumns": list(partition_columns),
            "configuration": {
                "delta.columnMapping.mode": mode,
                "delta.columnMapping.maxColumnId": str(len(fields)),
            },
        }
    }


_PROTOCOL_V2 = {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}


def test_column_mapping_flat_roundtrip(spark, tmp_path):
    """Name-mode column mapping: data lives under col-<uuid> physical
    names; the read surfaces logical names with the declared types."""
    root = str(tmp_path / "cm_flat")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    # data file uses PHYSICAL column names
    _write_parquet(
        spark,
        [("s1", datetime(2020, 1, 1), 1.5), ("s2", datetime(2020, 1, 2), 2.5)],
        "`col-aaa` string, `col-bbb` timestamp, `col-ccc` double",
        os.path.join(root, "part0.parquet"),
    )
    fields = [
        _mapped_field("series name", "string", 1, "col-aaa"),
        _mapped_field("ts", "timestamp", 2, "col-bbb"),
        _mapped_field("value", "double", 3, "col-ccc"),
    ]
    _commit(log_dir, 0, [
        _PROTOCOL_V2,
        _mapped_meta_action(fields),
        {"add": {"path": "part0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    df = read_delta(spark, root)
    assert df.columns == ["series name", "ts", "value"]
    assert dict(df.dtypes)["value"] == "double"
    rows = df.orderBy("ts").collect()
    assert [r["series name"] for r in rows] == ["s1", "s2"]
    assert [r["value"] for r in rows] == [1.5, 2.5]


def test_column_mapping_partitioned_roundtrip(spark, tmp_path):
    """Partition directories and add-action partitionValues use the
    PHYSICAL name; the logical partition column comes back typed."""
    root = str(tmp_path / "cm_part")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    for day, value in [(1, 1.0), (2, 2.0)]:
        rel_dir = f"col-ddd={day}"
        os.makedirs(os.path.join(root, rel_dir), exist_ok=True)
        _write_parquet(
            spark, [(datetime(2020, 1, day), value)],
            "`col-bbb` timestamp, `col-ccc` double",
            os.path.join(root, rel_dir, "part.parquet"),
        )
    fields = [
        _mapped_field("ts", "timestamp", 1, "col-bbb"),
        _mapped_field("value", "double", 2, "col-ccc"),
        _mapped_field("day", "integer", 3, "col-ddd"),
    ]
    _commit(log_dir, 0, [
        _PROTOCOL_V2,
        _mapped_meta_action(fields, partition_columns=["day"]),
        {"add": {"path": "col-ddd=1/part.parquet",
                 "partitionValues": {"col-ddd": "1"}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "col-ddd=2/part.parquet",
                 "partitionValues": {"col-ddd": "2"}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    df = read_delta(spark, root)
    assert df.columns == ["ts", "value", "day"]
    assert dict(df.dtypes)["day"] == "int"
    rows = df.orderBy("day").collect()
    assert [(r.day, r.value) for r in rows] == [(1, 1.0), (2, 2.0)]


def test_column_mapping_nested_struct_roundtrip(spark, tmp_path):
    """Nested struct fields are renamed physical→logical by the
    position-based struct cast."""
    root = str(tmp_path / "cm_nested")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(
        spark,
        [(("pump", 7), 1.0)],
        "`col-sss` struct<`col-nnn`: string, `col-uuu`: int>, "
        "`col-ccc` double",
        os.path.join(root, "part0.parquet"),
    )
    nested_type = {
        "type": "struct",
        "fields": [
            _mapped_field("name", "string", 3, "col-nnn"),
            _mapped_field("unit", "integer", 4, "col-uuu"),
        ],
    }
    fields = [
        _mapped_field("tags", nested_type, 1, "col-sss"),
        _mapped_field("value", "double", 2, "col-ccc"),
    ]
    _commit(log_dir, 0, [
        _PROTOCOL_V2,
        _mapped_meta_action(fields),
        {"add": {"path": "part0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    df = read_delta(spark, root)
    assert df.columns == ["tags", "value"]
    row = df.collect()[0]
    assert row.tags.name == "pump"
    assert row.tags.unit == 7
    assert row.value == 1.0


def test_column_mapping_through_checkpoint(spark, tmp_path):
    """A column-mapped schemaString arriving via a parquet checkpoint's
    metaData row (not a JSON commit) still drives the rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "cm_ckpt")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(
        spark, [("s1", 5.0)], "`col-aaa` string, `col-ccc` double",
        os.path.join(root, "a.parquet"),
    )
    fields = [
        _mapped_field("series name", "string", 1, "col-aaa"),
        _mapped_field("value", "double", 2, "col-ccc"),
    ]
    rows = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5},
         "metaData": None, "add": None},
        {"protocol": None,
         "metaData": {
             "id": "t",
             "schemaString": json.dumps(
                 {"type": "struct", "fields": fields}
             ),
             "partitionColumns": [],
             "configuration": [("delta.columnMapping.mode", "name")],
         },
         "add": None},
        {"protocol": None, "metaData": None,
         "add": {"path": "a.parquet", "partitionValues": {}}},
    ]
    checkpoint_schema = pa.schema([
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
        ])),
    ])
    pq.write_table(
        pa.Table.from_pylist(rows, schema=checkpoint_schema),
        os.path.join(log_dir, f"{0:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as handle:
        json.dump({"version": 0, "size": 3}, handle)
    snapshot = read_snapshot(root)
    assert snapshot.configuration.get("delta.columnMapping.mode") == "name"
    df = read_delta(spark, root)
    assert df.columns == ["series name", "value"]
    assert df.collect()[0]["value"] == 5.0


def test_column_mapping_id_mode_matches_by_field_id(spark, tmp_path):
    """`id` mode: parquet column names are arbitrary (here deliberately
    NOT the physicalName — a foreign-engine layout); the read matches
    by the parquet field ids and surfaces logical names."""
    from pyspark.sql import types as T

    root = str(tmp_path / "cm_id")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    file_schema = T.StructType([
        T.StructField("weird_x", T.StringType(), True,
                      {"parquet.field.id": 1}),
        T.StructField("weird_y", T.DoubleType(), True,
                      {"parquet.field.id": 2}),
    ])
    spark.createDataFrame(
        [("s1", 1.5)], file_schema
    ).coalesce(1).write.mode("overwrite").parquet(root + "/stage")
    part = [f for f in os.listdir(root + "/stage")
            if f.endswith(".parquet") and not f.startswith("_")][0]
    os.replace(os.path.join(root, "stage", part),
               os.path.join(root, "part0.parquet"))
    fields = [
        _mapped_field("series name", "string", 1, "col-aaa"),
        _mapped_field("value", "double", 2, "col-ccc"),
    ]
    _commit(log_dir, 0, [
        _PROTOCOL_V2,
        _mapped_meta_action(fields, mode="id"),
        {"add": {"path": "part0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    df = read_delta(spark, root)
    assert df.columns == ["series name", "value"]
    rows = df.collect()
    assert [(r["series name"], r["value"]) for r in rows] == [("s1", 1.5)]


def test_delta_timestamp_partition_pruning(spark, tmp_path):
    """Reference Delta semantics end-to-end (delta_lake.py:298-356): a
    range query on a year/month-partitioned Delta table enumerates the
    partitions and skips directories through the log-replayed read."""
    root = str(tmp_path / "ts_delta")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    schema = "`series name` string, ts timestamp, value double"
    adds = []
    for month, value in [(1, 1.0), (2, 2.0), (3, 3.0)]:
        rel_dir = f"year=2020/month={month}"
        os.makedirs(os.path.join(root, rel_dir), exist_ok=True)
        _write_parquet(
            spark, [("s1", datetime(2020, month, 15), value)], schema,
            os.path.join(root, rel_dir, "part.parquet"),
        )
        adds.append({
            "add": {
                "path": f"{rel_dir}/part.parquet",
                "partitionValues": {"year": "2020", "month": str(month)},
                "size": 1, "modificationTime": 0, "dataChange": True,
            }
        })
    fields = [
        ("series name", "string"), ("ts", "timestamp"),
        ("value", "double"), ("year", "integer"), ("month", "integer"),
    ]
    _commit(log_dir, 0, [
        _PROTOCOL,
        _meta_action(fields, partition_columns=["year", "month"]),
        *adds,
    ])
    source = FileSource(
        spark,
        "d",
        FileSourceOptions(
            path=root,
            file_format="delta",
            timestamp_partition_columns=["year", "month"],
        ),
    )
    data = source.get_data(
        SeriesSelector.from_name("d", "s1"),
        datetime(2020, 2, 1, tzinfo=timezone.utc),
        datetime(2020, 3, 1, tzinfo=timezone.utc),
    )
    assert [r["value"] for r in data.collect()] == [2.0]
    plan = data._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "month" in plan.split("PartitionFilters")[1][:200]


def test_time_travel_version_as_of(spark, tmp_path):
    """VERSION AS OF: each commit's snapshot is reconstructible."""
    root = str(tmp_path / "tt")
    _make_unpartitioned(spark, root)
    # v0 = {a, b}; v1 removes b, adds c
    v0 = read_delta(spark, root, version=0)
    assert sorted(r.value for r in v0.collect()) == [1.0, 99.0]
    v1 = read_delta(spark, root, version=1)
    assert sorted(r.value for r in v1.collect()) == [1.0, 3.0]
    assert read_snapshot(root, 0).version == 0
    assert read_snapshot(root).version == 1

    with pytest.raises(ValueError, match="not found"):
        read_snapshot(root, 7)


def test_time_travel_through_file_source_config(spark, tmp_path):
    root = str(tmp_path / "ttc")
    _make_unpartitioned(spark, root)
    src = FileSource(
        spark,
        "tt",
        FileSourceOptions(
            path=root, file_format="delta", delta_version=0
        ),
    )
    sel = SeriesSelector.from_name("tt", "s1")
    rows = src.get_data(sel, START, END).collect()
    assert sorted(r.value for r in rows) == [1.0, 99.0]


# ---------------------------------------------------------------------------
# deletion vectors (round 6): crafted in the open DV format — Z85 payloads,
# [size][data][crc32] file wrapping, RoaringBitmapArray portable bitmaps —
# exactly what a DV-enabled Delta writer produces.
# ---------------------------------------------------------------------------

import struct
import zlib

from kukur_spark.sources.delta_dv import serialize_bitmap, z85_encode


def _inline_dv(positions):
    data = serialize_bitmap(positions)
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data),
        "offset": None,
        "sizeInBytes": len(data),
        "cardinality": len(positions),
    }


def _file_dv(root, positions, prefix=""):
    """Write a `u`-storage DV file; returns the add-action descriptor."""
    from uuid import uuid4

    data = serialize_bitmap(positions)
    uuid = uuid4()
    rel_dir = os.path.join(prefix) if prefix else ""
    os.makedirs(os.path.join(root, rel_dir) or root, exist_ok=True)
    path = os.path.join(root, rel_dir, f"deletion_vector_{uuid}.bin")
    offset = 1  # right after the version byte
    with open(path, "wb") as handle:
        handle.write(b"\x01")
        handle.write(struct.pack(">I", len(data)))
        handle.write(data)
        handle.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    encoded = (prefix + "/" if prefix else "") + z85_encode(uuid.bytes)
    return {
        "storageType": "u",
        "pathOrInlineDv": encoded,
        "offset": offset,
        "sizeInBytes": len(data),
        "cardinality": len(positions),
    }


def test_deletion_vector_inline(spark, tmp_path):
    """Inline (`i`) DV: rows at the flagged positions disappear."""
    root = str(tmp_path / "dv_inline")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(
        spark,
        [(i, float(i) * 10) for i in range(6)],
        "id long, value double",
        os.path.join(root, "a.parquet"),
    )
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta_action([("id", "long"), ("value", "double")]),
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _inline_dv([1, 3, 4])}},
    ])
    rows = read_delta(spark, root).orderBy("id").collect()
    assert [r.id for r in rows] == [0, 2, 5]
    assert [r.value for r in rows] == [0.0, 20.0, 50.0]


def test_deletion_vector_file_storage(spark, tmp_path):
    """`u` storage: bitmap in deletion_vector_<uuid>.bin with the
    [version][size][data][crc] wrapping, UUID Z85-encoded with a
    directory prefix."""
    root = str(tmp_path / "dv_file")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    for name, vals in [("a", [0, 1, 2]), ("b", [10, 11, 12])]:
        _write_parquet(
            spark, [(v, float(v)) for v in vals], "id long, value double",
            os.path.join(root, f"{name}.parquet"),
        )
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
        _meta_action([("id", "long"), ("value", "double")]),
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _file_dv(root, [0, 2], prefix="ab")}},
        {"add": {"path": "b.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    rows = read_delta(spark, root).orderBy("id").collect()
    # a keeps only row index 1 (id=1); b untouched
    assert [r.id for r in rows] == [1, 10, 11, 12]


def test_deletion_vector_replaced_on_readd(spark, tmp_path):
    """A later add of the same file replaces its DV (the Delta way to
    delete more rows); a re-add without a DV clears it."""
    root = str(tmp_path / "dv_readd")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(
        spark, [(i, float(i)) for i in range(4)], "id long, value double",
        os.path.join(root, "a.parquet"),
    )
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
        _meta_action([("id", "long"), ("value", "double")]),
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _inline_dv([0])}},
    ])
    _commit(log_dir, 1, [
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _inline_dv([0, 2])}},
    ])
    assert [r.id for r in read_delta(spark, root).orderBy("id").collect()] \
        == [1, 3]
    # time travel to v0 sees only the first deletion
    assert [r.id for r in
            read_delta(spark, root, version=0).orderBy("id").collect()] \
        == [1, 2, 3]
    # v2 re-adds without a DV -> all rows back
    _commit(log_dir, 2, [
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    assert [r.id for r in read_delta(spark, root).orderBy("id").collect()] \
        == [0, 1, 2, 3]


def test_deletion_vector_partitioned_dir_with_space(spark, tmp_path):
    """DV position matching survives URI-encoded scan paths (partition
    directory containing a space) and composes with partition pruning."""
    root = str(tmp_path / "dv_part")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    for name, vals in [("s1", [1.0, 2.0, 3.0]), ("s2", [9.0])]:
        part_dir = os.path.join(root, f"series name={name}")
        os.makedirs(part_dir, exist_ok=True)
        _write_parquet(
            spark, [(datetime(2020, 1, 1 + i), v) for i, v in enumerate(vals)],
            "ts timestamp, value double",
            os.path.join(part_dir, "part.parquet"),
        )
    fields = [
        ("series name", "string"), ("ts", "timestamp"), ("value", "double")
    ]
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
        _meta_action(fields, partition_columns=["series name"]),
        {"add": {"path": "series%20name=s1/part.parquet",
                 "partitionValues": {"series name": "s1"}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _inline_dv([1])}},
        {"add": {"path": "series%20name=s2/part.parquet",
                 "partitionValues": {"series name": "s2"}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    df = read_delta(spark, root)
    got = sorted(
        (r["series name"], r["value"]) for r in df.collect()
    )
    assert got == [("s1", 1.0), ("s1", 3.0), ("s2", 9.0)]


def test_deletion_vector_corrupt_crc_rejected(spark, tmp_path):
    root = str(tmp_path / "dv_crc")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(
        spark, [(1, 1.0)], "id long, value double",
        os.path.join(root, "a.parquet"),
    )
    descriptor = _file_dv(root, [0])
    # flip a byte inside the stored bitmap
    from kukur_spark.sources.delta_dv import dv_file_name

    path = os.path.join(root, dv_file_name(descriptor["pathOrInlineDv"]))
    blob = bytearray(open(path, "rb").read())
    blob[8] ^= 0xFF
    open(path, "wb").write(bytes(blob))
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
        _meta_action([("id", "long"), ("value", "double")]),
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": descriptor}},
    ])
    with pytest.raises(ValueError, match="checksum"):
        read_delta(spark, root).collect()


def test_timestamp_as_of(spark, tmp_path):
    """TIMESTAMP AS OF resolves to the latest commit at-or-before the
    requested instant, using commitInfo timestamps (monotonized)."""
    from kukur_spark.sources.delta_log import version_at_timestamp

    root = str(tmp_path / "tsaof")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    schema = "id long, value double"
    for name, ident in [("a", 1), ("b", 2), ("c", 3)]:
        _write_parquet(
            spark, [(ident, float(ident))], schema,
            os.path.join(root, f"{name}.parquet"),
        )
    fields = [("id", "long"), ("value", "double")]
    t0, t1, t2 = 1_000_000, 2_000_000, 3_000_000
    _commit(log_dir, 0, [
        _PROTOCOL,
        _meta_action(fields),
        {"commitInfo": {"timestamp": t0, "operation": "WRITE"}},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    _commit(log_dir, 1, [
        # inCommitTimestamp wins over the (stale) timestamp field
        {"commitInfo": {"timestamp": t0, "inCommitTimestamp": t1,
                        "operation": "WRITE"}},
        {"add": {"path": "b.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    _commit(log_dir, 2, [
        # clock skew: earlier than commit 1 -> monotonized to t1+1ms
        {"commitInfo": {"timestamp": t1 - 500_000, "operation": "WRITE"}},
        {"add": {"path": "c.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    assert version_at_timestamp(root, t0) == 0
    assert version_at_timestamp(root, t1) == 1
    assert version_at_timestamp(root, t1 + 1) == 2  # monotonized commit 2
    assert version_at_timestamp(root, t2) == 2
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(root, t0 - 1)

    assert sorted(
        r.id for r in read_delta(spark, root, timestamp=t1).collect()
    ) == [1, 2]
    from datetime import timezone as _tz

    dt = datetime.fromtimestamp(t0 / 1000, tz=_tz.utc)
    assert sorted(
        r.id for r in read_delta(spark, root, timestamp=dt).collect()
    ) == [1]
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, root, version=1, timestamp=t1)


def test_timestamp_as_of_through_file_source_config(spark, tmp_path):
    from kukur_spark.sources.file_source import FileSource, FileSourceOptions

    root = str(tmp_path / "tsaof_cfg")
    _make_unpartitioned(spark, root)
    # stamp commit times via mtime fallback: set file mtimes far apart
    for v, mtime in [(0, 1_000), (1, 2_000)]:
        os.utime(
            os.path.join(root, "_delta_log", f"{v:020d}.json"),
            (mtime, mtime),
        )
    src = FileSource(
        spark,
        "tt",
        FileSourceOptions(
            path=root, file_format="delta", delta_timestamp=1_500 * 1000
        ),
    )
    sel = SeriesSelector.from_name("tt", "s1")
    rows = src.get_data(sel, START, END).collect()
    # v0 snapshot: files a+b -> values 1.0 and 99.0
    assert sorted(r.value for r in rows) == [1.0, 99.0]


# ---------------------------------------------------------------------------
# v2 checkpoints (round 6): manifest (json or parquet) + sidecar files —
# the `v2Checkpoint` reader-feature layout.
# ---------------------------------------------------------------------------


def _sidecar_schema():
    import pyarrow as pa

    return pa.schema([
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
        ])),
        ("remove", pa.struct([("path", pa.string())])),
    ])


def _write_sidecar(log_dir, name, actions):
    import pyarrow as pa
    import pyarrow.parquet as pq

    sidecar_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(sidecar_dir, exist_ok=True)
    rows = [
        {"add": a.get("add"), "remove": a.get("remove")} for a in actions
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_sidecar_schema()),
        os.path.join(sidecar_dir, name),
    )


def _make_v2_checkpoint_table(spark, root, manifest_format):
    """Checkpoint v1 = {a, b} via two sidecars; commit 2 removes a and
    adds c."""
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    for name in ("a", "b", "c"):
        _write_parquet(
            spark, [(ord(name), float(ord(name)))], "id long, value double",
            os.path.join(root, f"{name}.parquet"),
        )
    fields = [("id", "long"), ("value", "double")]
    _write_sidecar(log_dir, "sc1.parquet", [
        {"add": {"path": "a.parquet", "partitionValues": {}}},
    ])
    _write_sidecar(log_dir, "sc2.parquet", [
        {"add": {"path": "b.parquet", "partitionValues": {}}},
    ])
    actions = [
        {"checkpointMetadata": {"version": 1}},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["v2Checkpoint"]}},
        {"metaData": {"id": "t", "schemaString": _schema_string(fields),
                      "partitionColumns": [], "configuration": {}}},
        {"sidecar": {"path": "sc1.parquet", "sizeInBytes": 1,
                     "modificationTime": 0}},
        {"sidecar": {"path": "sc2.parquet", "sizeInBytes": 1,
                     "modificationTime": 0}},
    ]
    unique = "80a083e8-7026-4e79-81be-64bd76c43a11"
    if manifest_format == "json":
        with open(
            os.path.join(log_dir, f"{1:020d}.checkpoint.{unique}.json"), "w"
        ) as handle:
            for action in actions:
                handle.write(json.dumps(action) + "\n")
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            ("checkpointMetadata", pa.struct([("version", pa.int64())])),
            ("protocol", pa.struct([
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                ("readerFeatures", pa.list_(pa.string())),
            ])),
            ("metaData", pa.struct([
                ("id", pa.string()),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pa.map_(pa.string(), pa.string())),
            ])),
            ("sidecar", pa.struct([
                ("path", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("modificationTime", pa.int64()),
            ])),
        ])
        rows = [
            {k: a.get(k) for k in schema.names} for a in actions
        ]
        for row in rows:
            meta = row.get("metaData")
            if meta and isinstance(meta.get("configuration"), dict):
                meta["configuration"] = list(meta["configuration"].items())
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema),
            os.path.join(log_dir, f"{1:020d}.checkpoint.{unique}.parquet"),
        )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as handle:
        json.dump({"version": 1, "size": len(actions)}, handle)
    _commit(log_dir, 2, [
        {"remove": {"path": "a.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {"path": "c.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])


@pytest.mark.parametrize("manifest_format", ["json", "parquet"])
def test_v2_checkpoint_with_sidecars(spark, tmp_path, manifest_format):
    root = str(tmp_path / f"v2ckpt_{manifest_format}")
    _make_v2_checkpoint_table(spark, root, manifest_format)
    snapshot = read_snapshot(root)
    assert snapshot.version == 2
    names = sorted(os.path.basename(f) for f in snapshot.files)
    assert names == ["b.parquet", "c.parquet"]
    values = sorted(r.value for r in read_delta(spark, root).collect())
    assert values == [float(ord("b")), float(ord("c"))]


def test_v2_checkpoint_version_mismatch_rejected(spark, tmp_path):
    root = str(tmp_path / "v2bad")
    _make_v2_checkpoint_table(spark, root, "json")
    log_dir = os.path.join(root, "_delta_log")
    manifest = [
        f for f in os.listdir(log_dir) if f.endswith(".json") and
        ".checkpoint." in f
    ][0]
    lines = open(os.path.join(log_dir, manifest)).read().splitlines()
    lines[0] = json.dumps({"checkpointMetadata": {"version": 7}})
    open(os.path.join(log_dir, manifest), "w").write("\n".join(lines))
    with pytest.raises(ValueError, match="declares version"):
        read_snapshot(root)


def _add(path):
    return {"add": {"path": path, "partitionValues": {}, "size": 1,
                    "modificationTime": 0, "dataChange": True}}


def test_type_widening_upcasts_pre_widen_files(spark, tmp_path):
    """typeWidening: a file written while `value` was int reads back
    under the log's widened long schema (the declared schema reaches
    the scan; Spark's parquet reader upcasts the narrower file)."""
    root = str(tmp_path / "widen")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(spark, [("a", 10)], "id string, value int",
                   os.path.join(root, "a.parquet"))
    _write_parquet(spark, [("b", 20_000_000_000)], "id string, value long",
                   os.path.join(root, "b.parquet"))
    widened = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "string", "nullable": True, "metadata": {}},
        {"name": "value", "type": "long", "nullable": True, "metadata": {
            "delta.typeChanges": [
                {"fromType": "integer", "toType": "long"}]}},
    ]})
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"],
                      "writerFeatures": ["typeWidening"]}},
        _meta_action([("id", "string"), ("value", "integer")]),
        _add("a.parquet"),
    ])
    meta = _meta_action([])
    meta["metaData"]["schemaString"] = widened
    _commit(log_dir, 1, [meta, _add("b.parquet")])
    df = read_delta(spark, root)
    assert dict(df.dtypes)["value"] == "bigint"
    assert sorted((r.id, r.value) for r in df.collect()) == [
        ("a", 10), ("b", 20_000_000_000)]
    # time travel to the pre-widen version still reads the int schema
    v0 = read_delta(spark, root, version=0)
    assert dict(v0.dtypes)["value"] == "int"


def test_log_schema_fills_added_columns_with_null(spark, tmp_path):
    """A column added after a file was written reads as null for that
    file's rows (log schema is authoritative, not footer inference)."""
    root = str(tmp_path / "addcol")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(spark, [("a", 1.0)], "id string, value double",
                   os.path.join(root, "a.parquet"))
    _commit(log_dir, 0, [
        _PROTOCOL,
        _meta_action([("id", "string"), ("value", "double")]),
        _add("a.parquet"),
    ])
    _commit(log_dir, 1, [
        _meta_action([("id", "string"), ("value", "double"),
                      ("unit", "string")]),
    ])
    rows = read_delta(spark, root).collect()
    assert [(r.id, r.value, r.unit) for r in rows] == [("a", 1.0, None)]


def test_type_widening_on_column_mapped_table(spark, tmp_path):
    """Widened + column-mapped: the physical-named schema carries the
    widened logical type, so the pre-widen int file upcasts and the
    relabel cast surfaces logical names."""
    root = str(tmp_path / "widenmap")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(spark, [("a", 10)], "`col-1` string, `col-2` int",
                   os.path.join(root, "a.parquet"))
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "string", "nullable": True, "metadata": {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-1"}},
        {"name": "value", "type": "long", "nullable": True, "metadata": {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-2",
            "delta.typeChanges": [
                {"fromType": "integer", "toType": "long"}]}},
    ]})
    meta = _meta_action([])
    meta["metaData"]["schemaString"] = schema
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name"}
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping", "typeWidening"],
                      "writerFeatures": ["columnMapping", "typeWidening"]}},
        meta,
        _add("a.parquet"),
    ])
    df = read_delta(spark, root)
    assert df.columns == ["id", "value"]
    assert dict(df.dtypes)["value"] == "bigint"
    assert [(r.id, r.value) for r in df.collect()] == [("a", 10)]


def test_column_mapped_added_column_null_fills(spark, tmp_path):
    """A column added to a mapped table after a file was written reads
    as null for that file (physical schema at the scan — footer
    inference would fail analysis on the missing physical name)."""
    root = str(tmp_path / "mapevolve")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(spark, [("a", 1.0)], "`col-1` string, `col-2` double",
                   os.path.join(root, "a.parquet"))
    fields_v0 = [
        _mapped_field("id", "string", 1, "col-1"),
        _mapped_field("value", "double", 2, "col-2"),
    ]
    _commit(log_dir, 0, [
        _PROTOCOL_V2,
        _mapped_meta_action(fields_v0),
        _add("a.parquet"),
    ])
    fields_v1 = fields_v0 + [_mapped_field("unit", "string", 3, "col-3")]
    _commit(log_dir, 1, [_mapped_meta_action(fields_v1)])
    rows = read_delta(spark, root).collect()
    assert [(r.id, r.value, r.unit) for r in rows] == [("a", 1.0, None)]


def test_variant_column_round_trips(spark, tmp_path):
    """variantType: Delta's variant encoding is Spark's parquet variant
    encoding, so a variant column reads natively once the log schema
    (which declares `variant`) reaches the scan."""
    root = str(tmp_path / "vartable")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    spark.sql(
        "SELECT 'a' AS id, parse_json('{\"x\": 1, \"y\": [2, 3]}') AS v"
    ).coalesce(1).write.mode("overwrite").parquet(root + "/stage")
    part = [f for f in os.listdir(root + "/stage")
            if f.endswith(".parquet") and not f.startswith("_")][0]
    os.replace(os.path.join(root, "stage", part),
               os.path.join(root, "a.parquet"))
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["variantType"],
                      "writerFeatures": ["variantType"]}},
        _meta_action([("id", "string"), ("v", "variant")]),
        _add("a.parquet"),
    ])
    df = read_delta(spark, root)
    assert dict(df.dtypes)["v"] == "variant"
    from pyspark.sql import functions as F
    row = df.select("id", F.to_json("v").alias("j")).first()
    assert row.id == "a"
    assert json.loads(row.j) == {"x": 1, "y": [2, 3]}


def test_deletion_vector_composes_with_type_widening(spark, tmp_path):
    """DV anti-join and the declared (widened) scan schema compose: the
    pre-widen int file has a deleted row AND upcasts to long."""
    root = str(tmp_path / "dvwiden")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(spark, [("a", 10), ("b", 11), ("c", 12)],
                   "id string, value int",
                   os.path.join(root, "a.parquet"))
    widened = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "string", "nullable": True, "metadata": {}},
        {"name": "value", "type": "long", "nullable": True, "metadata": {
            "delta.typeChanges": [
                {"fromType": "integer", "toType": "long"}]}},
    ]})
    dv_descriptor = _inline_dv([1])  # delete row "b"
    meta = _meta_action([])
    meta["metaData"]["schemaString"] = widened
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors", "typeWidening"],
                      "writerFeatures": ["deletionVectors", "typeWidening"]}},
        meta,
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": dv_descriptor}},
    ])
    df = read_delta(spark, root)
    assert dict(df.dtypes)["value"] == "bigint"
    assert sorted((r.id, r.value) for r in df.collect()) == [
        ("a", 10), ("c", 12)]


# ---------------------------------------------------------------------------
# reader-feature edges: rowTracking (writer feature — must NOT reject),
# inCommitTimestamp enabled mid-table, variantShredding (native read)
# ---------------------------------------------------------------------------
def test_row_tracking_writer_feature_is_ignored(spark, tmp_path):
    """rowTracking lives in writerFeatures and adds baseRowId /
    defaultRowCommitVersion to add actions; a reader needs no support
    (delta protocol: row tracking is write-side).  The scan must succeed
    and the extra add fields must be ignored."""
    root = str(tmp_path / "rowtrack")
    os.makedirs(os.path.join(root, "_delta_log"))
    schema = "`series name` string, ts timestamp, value double"
    _write_parquet(
        spark, [("s1", datetime(2020, 1, 1), 1.0)], schema,
        os.path.join(root, "a.parquet"),
    )
    fields = [
        ("series name", "string"), ("ts", "timestamp"), ("value", "double")
    ]
    _commit(os.path.join(root, "_delta_log"), 0, [
        {"protocol": {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": ["rowTracking", "domainMetadata"],
        }},
        _meta_action(fields),
        {"add": {
            "path": "a.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "baseRowId": 0, "defaultRowCommitVersion": 0,
        }},
        {"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps({"rowIdHighWaterMark": 0}),
            "removed": False,
        }},
    ])
    df = read_delta(spark, root)
    assert df.count() == 1


def test_in_commit_timestamp_enabled_mid_table(spark, tmp_path):
    """ICT enablement mid-log: versions before the enablement version
    use commitInfo.timestamp, later ones the authoritative
    inCommitTimestamp; monotonization bridges the switch even when the
    ICT clock jumps backwards relative to the wall clock."""
    from kukur_spark.sources.delta_log import version_at_timestamp

    root = str(tmp_path / "ict")
    os.makedirs(os.path.join(root, "_delta_log"))
    schema = "`series name` string, ts timestamp, value double"
    fields = [
        ("series name", "string"), ("ts", "timestamp"), ("value", "double")
    ]
    for name, v in (("a", 1.0), ("b", 2.0), ("c", 3.0)):
        _write_parquet(
            spark, [("s1", datetime(2020, 1, 1), v)], schema,
            os.path.join(root, f"{name}.parquet"),
        )
    log = os.path.join(root, "_delta_log")
    _commit(log, 0, [
        _PROTOCOL, _meta_action(fields),
        {"commitInfo": {"timestamp": 1_000_000}},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    _commit(log, 1, [
        {"commitInfo": {"timestamp": 1_000_500}},
        {"add": {"path": "b.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    # ICT switched on here; its clock reads EARLIER than commit 1's
    # wall-clock timestamp — monotonization must still order it after
    _commit(log, 2, [
        {"commitInfo": {"timestamp": 1_000_900,
                        "inCommitTimestamp": 1_000_200}},
        {"metaData": _meta_action(fields)["metaData"] | {"configuration": {
            "delta.enableInCommitTimestamps": "true",
            "delta.inCommitTimestampEnablementVersion": "2",
            "delta.inCommitTimestampEnablementTimestamp": "1000200",
        }}},
        {"add": {"path": "c.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    assert version_at_timestamp(root, 1_000_000) == 0
    assert version_at_timestamp(root, 1_000_500) == 1
    # commit 2's ICT 1_000_200 < commit 1's 1_000_500 → monotonized to
    # 1_000_501: a query at that instant sees version 2
    assert version_at_timestamp(root, 1_000_501) == 2
    assert read_delta(spark, root, version=1).count() == 2
    assert read_delta(spark, root).count() == 3


def test_variant_shredding_reads(spark, tmp_path):
    """variantShredding: data files store typed_value subcolumns next to
    the residual value/metadata pair.  Spark 4.1's parquet reader
    reassembles them natively when the declared schema says `variant`
    (spark.sql.variant.allowReadingShredded), so the log-schema-declared
    scan reads shredded tables without custom reassembly.  The fixture
    file is genuinely shredded (written with writeShredding on; the test
    asserts typed_value columns are physically present)."""
    root = str(tmp_path / "shred")
    os.makedirs(os.path.join(root, "_delta_log"))
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.variant.writeShredding.enabled",
            "spark.sql.variant.inferShreddingSchema",
        )
    }
    try:
        spark.conf.set("spark.sql.variant.writeShredding.enabled", "true")
        spark.conf.set("spark.sql.variant.inferShreddingSchema", "true")
        df = spark.sql(
            "select format_string('s%d', id) as `series name`, "
            "parse_json(format_string("
            "'{\"a\": %d, \"b\": \"x%d\"}', id, id)) as v "
            "from range(3)"
        ).coalesce(1)
        df.write.mode("overwrite").parquet(root + "/data.tmp")
    finally:
        for key, val in prev.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)
    part = [
        f
        for f in os.listdir(root + "/data.tmp")
        if f.endswith(".parquet") and not f.startswith("_")
    ][0]
    os.replace(os.path.join(root + "/data.tmp", part),
               os.path.join(root, "d.parquet"))
    with open(os.path.join(root, "d.parquet"), "rb") as handle:
        assert b"typed_value" in handle.read(), "fixture must be shredded"
    fields = [("series name", "string"), ("v", "variant")]
    _commit(os.path.join(root, "_delta_log"), 0, [
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": [
                "variantType", "variantShredding", "deletionVectors"],
            "writerFeatures": [
                "variantType", "variantShredding", "deletionVectors"],
        }},
        _meta_action(fields),
        {"add": {"path": "d.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    out = read_delta(spark, root)
    assert dict(out.dtypes)["v"] == "variant"
    rows = (
        out.selectExpr(
            "`series name`",
            "variant_get(v, '$.a', 'int') as a",
            "to_json(v) as j",
        )
        .orderBy("series name")
        .collect()
    )
    assert [r["a"] for r in rows] == [0, 1, 2]
    assert rows[1]["j"] == '{"a":1,"b":"x1"}'

    # compose with deletionVectors: a DELETE on a shredded table attaches
    # a DV to the shredded file; the row-index anti-join must drop the
    # right rows while typed_value reassembly still works on the rest.
    _commit(os.path.join(root, "_delta_log"), 1, [
        {"remove": {"path": "d.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {"path": "d.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _inline_dv([1])}},
    ])
    rows = (
        read_delta(spark, root)
        .selectExpr("variant_get(v, '$.a', 'int') as a")
        .orderBy("a")
        .collect()
    )
    assert [r["a"] for r in rows] == [0, 2]

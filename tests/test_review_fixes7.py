"""Round-7 self-review fixes, each pinned:

1. Delta CDF dv_state replay is commit-order-insensitive (an add
   serialized BEFORE the remove of the same path must not evict the
   live file).
2. A lone DV re-add of an already-live file (no paired remove —
   protocol-legal after log reconciliation) synthesizes the position
   diff, not a full-file insert; dropping the DV restores rows.
3. read_delta string timestamps prefer the ISO-8601 calendar reading:
   compact dates like "20240101" are dates, not epoch millis.
4. A persist cap of 0 disables eviction (unbounded cache), not
   caching itself — matching the 0-disables-the-guard convention.
"""

import json
import os
from datetime import datetime

import pytest

from kukur_spark.sources.delta_log import read_delta, read_delta_changes
from tests.test_delta_log import (
    _add,
    _commit,
    _inline_dv,
    _meta_action,
    _write_parquet,
    _PROTOCOL,
)

_DV_PROTOCOL = {
    "protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }
}


def _dv_table(spark, tmp_path, name):
    """v0: f0 with rows a,b,c and no DV."""
    root = str(tmp_path / name)
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(
        spark,
        [("a", 1.0), ("b", 2.0), ("c", 3.0)],
        "id string, value double",
        os.path.join(root, "f0.parquet"),
    )
    _commit(log_dir, 0, [
        _DV_PROTOCOL,
        _meta_action([("id", "string"), ("value", "double")]),
        {"commitInfo": {"timestamp": 1000}},
        _add("f0.parquet"),
    ])
    return root, log_dir


def test_cdf_dv_rewrite_add_serialized_before_remove(spark, tmp_path):
    """v1 writes the add BEFORE the remove of the same path (legal:
    action order within a commit is insignificant); v2 extends the DV.
    v2's changes must be the diff against v1's DV — which requires
    dv_state to still hold f0 after v1."""
    root, log_dir = _dv_table(spark, tmp_path, "order")
    _commit(log_dir, 1, [
        {"commitInfo": {"timestamp": 2000}},
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _inline_dv([0])}},
        {"remove": {"path": "f0.parquet", "deletionTimestamp": 2,
                    "dataChange": True}},
    ])
    _commit(log_dir, 2, [
        {"commitInfo": {"timestamp": 3000}},
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _inline_dv([0, 2])}},
        {"remove": {"path": "f0.parquet", "deletionTimestamp": 3,
                    "dataChange": True}},
    ])
    rows = sorted(
        (r.id, r._change_type)
        for r in read_delta_changes(spark, root, 2, 2).collect()
    )
    # only row index 2 ("c") is newly deleted; "a" was already gone
    assert rows == [("c", "delete")]


def test_cdf_lone_dv_readd_diffs_not_inserts(spark, tmp_path):
    """v1 re-adds the live f0 with a DV and NO paired remove: the
    change is the newly-covered position as a delete — never a
    full-file insert."""
    root, log_dir = _dv_table(spark, tmp_path, "lone")
    _commit(log_dir, 1, [
        {"commitInfo": {"timestamp": 2000}},
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _inline_dv([1])}},
    ])
    rows = sorted(
        (r.id, r._change_type)
        for r in read_delta_changes(spark, root, 1, 1).collect()
    )
    assert rows == [("b", "delete")]
    # dropping the DV in v2 restores the row as an insert
    _commit(log_dir, 2, [
        {"commitInfo": {"timestamp": 3000}},
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    rows2 = sorted(
        (r.id, r._change_type)
        for r in read_delta_changes(spark, root, 2, 2).collect()
    )
    assert rows2 == [("b", "insert")]


def test_read_delta_compact_iso_date_string(spark, tmp_path):
    """'20240101' is ISO-8601 basic format — it must resolve as the
    calendar date (after the 2023 commit), not as epoch millis 20.2M
    (≈1970, before every commit)."""
    root = str(tmp_path / "isodate")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(
        spark, [("a", 1.0)], "id string, value double",
        os.path.join(root, "f0.parquet"),
    )
    ts_2023 = int(datetime(2023, 6, 1).timestamp() * 1000)
    _commit(log_dir, 0, [
        _PROTOCOL,
        _meta_action([("id", "string"), ("value", "double")]),
        {"commitInfo": {"timestamp": ts_2023}},
        _add("f0.parquet"),
    ])
    df = read_delta(spark, root, timestamp="20240101")
    assert df.count() == 1
    # pure epoch-millis digit strings still work (not valid ISO)
    df2 = read_delta(spark, root, timestamp=str(ts_2023 + 1))
    assert df2.count() == 1
    # a date before the first commit still fails loudly
    with pytest.raises(ValueError):
        read_delta(spark, root, timestamp="20230101")


def test_persist_cap_zero_disables_eviction_not_caching(spark):
    import kukur_spark.io as io

    df = spark.range(10).selectExpr("id", "id * 2 as v")
    old_cap, old_fifo = io._PERSISTED_CAP, list(io._PERSISTED_FIFO)
    try:
        io._PERSISTED_CAP = 0
        out = io.persist_once(df)
        level = out.storageLevel
        assert level.useMemory or level.useDisk  # still cached
        assert out in io._PERSISTED_FIFO  # tracked, never evicted
    finally:
        io._PERSISTED_CAP = old_cap
        for frame in io._PERSISTED_FIFO:
            if frame not in old_fifo:
                try:
                    frame.unpersist(blocking=False)
                except Exception:
                    pass
        io._PERSISTED_FIFO[:] = old_fifo


def test_cdf_seeds_live_set_from_checkpoint(spark, tmp_path):
    """A DV re-add of a file whose original add lives only in a parquet
    checkpoint (the JSON commit was vacuumed): the CDF must seed the
    live set from the snapshot before the oldest retained commit and
    diff against the checkpoint's DV — not emit full-file inserts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "cdfseed")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(
        spark,
        [("a", 1.0), ("b", 2.0), ("c", 3.0)],
        "id string, value double",
        os.path.join(root, "f0.parquet"),
    )
    from tests.test_delta_log import _schema_string

    dv_type = pa.struct([
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ])
    checkpoint_schema = pa.schema([
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("deletionVector", dv_type),
        ])),
        ("remove", pa.struct([("path", pa.string())])),
    ])
    fields = [("id", "string"), ("value", "double")]
    dv0 = _inline_dv([0])  # "a" already deleted at checkpoint time
    rows = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]},
         "metaData": None, "add": None, "remove": None},
        {"protocol": None,
         "metaData": {"id": "t", "schemaString": _schema_string(fields),
                      "partitionColumns": []},
         "add": None, "remove": None},
        {"protocol": None, "metaData": None,
         "add": {"path": "f0.parquet", "partitionValues": {},
                 "deletionVector": dv0},
         "remove": None},
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=checkpoint_schema),
        os.path.join(log_dir, f"{1:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as handle:
        json.dump({"version": 1, "size": 3}, handle)
    # only retained JSON: version 2 extends the DV to rows 0 and 1
    _commit(log_dir, 2, [
        {"commitInfo": {"timestamp": 3000}},
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _inline_dv([0, 1])}},
    ])
    rows_out = sorted(
        (r.id, r._change_type)
        for r in read_delta_changes(spark, root, 2, 2).collect()
    )
    # only "b" (row 1) is newly deleted; "a" was deleted before the
    # retained log and must NOT resurface as an insert or delete
    assert rows_out == [("b", "delete")]

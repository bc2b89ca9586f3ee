"""Round-7 review fixes (ADVICE.md r6).

- persist_once: bounded FIFO of engine-initiated persists (cache-leak
  fix for long-lived sessions driving many distributed-operator inputs).
- read_delta: ISO-8601 string accepted for ``timestamp`` (config
  delta_timestamp parity with the delta-spark timestampAsOf branch).
- DV anti-join key normalization: relative ``table_path`` and literal
  ``+`` in paths must not silently resurrect deleted rows.
"""

import json
import os
from datetime import datetime, timezone

from kukur_spark.sources.delta_dv import serialize_bitmap, z85_encode
from kukur_spark.sources.delta_log import read_delta


def _inline_dv(positions):
    data = serialize_bitmap(positions)
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data),
        "offset": None,
        "sizeInBytes": len(data),
        "cardinality": len(positions),
    }


def _commit(log_dir, version, actions):
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as handle:
        for action in actions:
            handle.write(json.dumps(action) + "\n")


def _meta_action(fields):
    return {
        "metaData": {
            "id": "test-table",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {"name": n, "type": t, "nullable": True, "metadata": {}}
                        for n, t in fields
                    ],
                }
            ),
            "partitionColumns": [],
            "configuration": {},
        }
    }


_DV_PROTOCOL = {
    "protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }
}


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


def _dv_table(spark, root, file_name="a.parquet", deleted=(1, 3)):
    """6-row table with rows at ``deleted`` positions DV-deleted."""
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(
        spark,
        [(i, float(i) * 10) for i in range(6)],
        "id long, value double",
        os.path.join(root, file_name),
    )
    _commit(log_dir, 0, [
        _DV_PROTOCOL,
        _meta_action([("id", "long"), ("value", "double")]),
        {"add": {"path": file_name, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": _inline_dv(list(deleted))}},
    ])


def test_persist_once_cap_evicts_oldest_engine_persist(spark):
    import kukur_spark.io as kio

    frames = [
        spark.range(1000 + i).selectExpr("id", f"id * {i + 2} as v")
        for i in range(4)
    ]
    old_cap, old_fifo = kio._PERSISTED_CAP, list(kio._PERSISTED_FIFO)
    kio._PERSISTED_FIFO.clear()
    try:
        kio._PERSISTED_CAP = 2
        persisted = [kio.persist_once(df) for df in frames]
        levels = [
            (df.storageLevel.useMemory or df.storageLevel.useDisk)
            for df in persisted
        ]
        assert levels == [False, False, True, True]
        assert len(kio._PERSISTED_FIFO) == 2
    finally:
        for df in list(kio._PERSISTED_FIFO):
            df.unpersist(blocking=False)
        kio._PERSISTED_CAP = old_cap
        kio._PERSISTED_FIFO[:] = old_fifo


def test_persist_once_never_evicts_caller_cache(spark):
    import kukur_spark.io as kio

    caller = spark.range(777).selectExpr("id", "id * 7 as v").persist()
    old_cap, old_fifo = kio._PERSISTED_CAP, list(kio._PERSISTED_FIFO)
    kio._PERSISTED_FIFO.clear()
    try:
        kio._PERSISTED_CAP = 1
        assert kio.persist_once(caller) is caller  # early return, untracked
        kio.persist_once(spark.range(888).selectExpr("id as a"))
        kio.persist_once(spark.range(889).selectExpr("id as b"))
        assert caller.storageLevel.useMemory or caller.storageLevel.useDisk
    finally:
        caller.unpersist(blocking=False)
        for df in list(kio._PERSISTED_FIFO):
            df.unpersist(blocking=False)
        kio._PERSISTED_CAP = old_cap
        kio._PERSISTED_FIFO[:] = old_fifo


def test_read_delta_iso_timestamp_string(spark, tmp_path):
    """The config path hands delta_timestamp through as an ISO string;
    the log-replay fallback must parse it (naive = UTC), not crash on
    int()."""
    root = str(tmp_path / "iso_ts")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    for name, ident in [("a", 1), ("b", 2)]:
        _write_parquet(
            spark, [(ident, float(ident))], "id long, value double",
            os.path.join(root, f"{name}.parquet"),
        )
    fields = [("id", "long"), ("value", "double")]
    t0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1000)
    t1 = int(datetime(2024, 6, 1, tzinfo=timezone.utc).timestamp() * 1000)
    _commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta_action(fields),
        {"commitInfo": {"timestamp": t0, "operation": "WRITE"}},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    _commit(log_dir, 1, [
        {"commitInfo": {"timestamp": t1, "operation": "WRITE"}},
        {"add": {"path": "b.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    # aware ISO, naive ISO (= UTC), and epoch-millis digit string
    for stamp in ("2024-03-01T00:00:00+00:00", "2024-03-01T00:00:00",
                  str(t0)):
        ids = sorted(
            r.id for r in read_delta(spark, root, timestamp=stamp).collect()
        )
        assert ids == [1], (stamp, ids)
    ids = sorted(
        r.id
        for r in read_delta(
            spark, root, timestamp="2024-06-01T00:00:00Z"
        ).collect()
    )
    assert ids == [1, 2]


def test_read_delta_relative_table_path_applies_dv(spark, tmp_path):
    """A relative table_path must still anti-join the DV positions:
    before the abspath normalization the join keys never matched and
    deleted rows silently reappeared."""
    root = str(tmp_path / "dv_rel")
    _dv_table(spark, root)
    cwd = os.getcwd()
    os.chdir(str(tmp_path))
    try:
        rows = read_delta(spark, "dv_rel").orderBy("id").collect()
    finally:
        os.chdir(cwd)
    assert [r.id for r in rows] == [0, 2, 4, 5]


def test_read_delta_dv_path_with_plus_sign(spark, tmp_path):
    """A literal ``+`` in the data-file path must survive the
    _metadata.file_path decode (url_decode alone maps + to space,
    breaking the anti-join key)."""
    root = str(tmp_path / "dv+plus")
    _dv_table(spark, root, file_name="part+0.parquet", deleted=(0, 5))
    rows = read_delta(spark, root).orderBy("id").collect()
    assert [r.id for r in rows] == [1, 2, 3, 4]

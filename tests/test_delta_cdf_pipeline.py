"""Delta CDF → incremental expectations, end-to-end.

The stated point of ``read_delta_changes`` is that incremental
pipelines consume the per-commit delta instead of re-scanning the
table.  This drives that composition for real: a lineitem Delta table
grows commit by commit, and the expectations report over its change
feed names the commit that introduced each violation.
"""

from __future__ import annotations

import json
import os

SF = "/root/testdata/sf0.001"


def _commit_file(log_dir, version, actions):
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as handle:
        for action in actions:
            handle.write(json.dumps(action) + "\n")


def _stage_parquet(df, root, name):
    df.coalesce(1).write.mode("overwrite").parquet(root + "/stage")
    part = [
        f for f in os.listdir(root + "/stage")
        if f.endswith(".parquet") and not f.startswith("_")
    ][0]
    os.replace(os.path.join(root, "stage", part), os.path.join(root, name))


def test_cdf_incremental_expectations_per_commit(spark, tmp_path):
    """Incremental DQ: each ingest commit's CDF rows run through the
    expectations report keyed by _commit_version, so a violation names
    the commit that introduced it — the v1 batch carries two planted
    violations, the v2 batch is clean, v0 (before the range) is never
    scanned."""
    import pyarrow.parquet as pq

    from kukur_spark.workloads_r14 import dq_expectations_changes

    root = str(tmp_path / "li_delta")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)

    li = pq.read_table(f"{SF}/lineitem.parquet").to_pandas()
    v0 = li.iloc[:40].copy()
    v0.loc[v0.index[0], "l_quantity"] = 99.0  # pre-range violation
    v1 = li.iloc[40:70].copy()
    v1.loc[v1.index[0], "l_quantity"] = 77.0  # out of range
    v1.loc[v1.index[1], "l_returnflag"] = "Z"  # outside set
    v2 = li.iloc[70:90].copy()  # clean

    fields = [
        {"name": c, "type": ("double" if str(t) == "float64"
                             else "long" if str(t).startswith("int")
                             else "timestamp" if "datetime" in str(t)
                             else "string"),
         "nullable": True, "metadata": {}}
        for c, t in zip(li.columns, li.dtypes)
    ]
    meta = {
        "metaData": {
            "id": "li",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}
            ),
            "partitionColumns": [],
            "configuration": {},
        }
    }
    add = lambda p: {"add": {"path": p, "partitionValues": {}, "size": 1,
                             "modificationTime": 0, "dataChange": True}}
    for i, frame in enumerate((v0, v1, v2)):
        frame.to_parquet(os.path.join(tmp_path, f"s{i}.parquet"))
        staged = spark.read.parquet(
            str(tmp_path / f"s{i}.parquet")
        )
        _stage_parquet(staged, root, f"f{i}.parquet")
    _commit_file(log_dir, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        meta, add("f0.parquet"),
    ])
    _commit_file(log_dir, 1, [add("f1.parquet")])
    _commit_file(log_dir, 2, [add("f2.parquet")])

    report = dq_expectations_changes(spark, root, 1, 2).collect()
    by_commit = {}
    for r in report:
        by_commit.setdefault(r._commit_version, {})[r.check_name] = (
            r.violations, r.total,
        )
    assert set(by_commit) == {1, 2}  # v0 outside the range
    assert by_commit[1]["l_quantity_range_1_50"] == (1, 30)
    assert by_commit[1]["l_returnflag_in_set"] == (1, 30)
    assert by_commit[2]["l_quantity_range_1_50"] == (0, 20)
    assert all(v == 0 for v, _ in by_commit[2].values())

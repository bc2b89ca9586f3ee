"""The query/oracle registries must be complete, and in the same order,
regardless of which workloads module a process imports first.

Every workloads module registers its own queries in the leaf
``kukur_spark.registry`` when it is imported, so registration order
follows import order.  ``kukur_spark.workloads`` imports every query
module and then orders the public registry by the driver window and by
name, which must make ``list(QUERIES)`` independent of that order.  Each
probe runs in a fresh subprocess because import state is per process.
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
import kukur_spark.{module}  # noqa: F401 — imported FIRST, the trigger
from kukur_spark.workloads import ORACLES, QUERIES
print(json.dumps([list(QUERIES), sorted(ORACLES)]))
"""


def _probe(module):
    out = subprocess.run(
        [sys.executable, "-c", PROBE.format(repo=REPO, module=module)],
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def canonical():
    return _probe("workloads")


@pytest.mark.parametrize(
    "module", ["workloads", "workloads_r9", "workloads_r10", "workloads_r13"]
)
def test_registry_complete_for_any_first_import(module, canonical):
    queries, oracles = _probe(module)
    assert (len(queries), len(oracles)) == (242, 239), (
        f"registry truncated when kukur_spark.{module} is imported first: "
        f"{len(queries)} queries / {len(oracles)} oracles"
    )
    assert oracles == canonical[1], (
        f"oracles differ when kukur_spark.{module} is imported first"
    )
    assert queries == canonical[0], (
        f"list(QUERIES) differs when kukur_spark.{module} is imported first"
    )


def test_duplicate_name_raises():
    from kukur_spark import registry
    from kukur_spark.workloads import QUERIES

    name = "tpch_q1"
    before = (dict(registry.QUERIES), dict(registry.ORACLES))
    with pytest.raises(ValueError, match="tpch_q1"):
        registry.register(name, QUERIES[name], "SELECT 1")
    assert (registry.QUERIES, registry.ORACLES) == before


def test_cluster_sql_reexport_identical():
    """The re-exported template is the same object the leaf defines —
    consumers importing from either location can never diverge."""
    from kukur_spark import dedup_sql, workloads

    assert workloads.DEDUP_CLUSTERS_SQL is dedup_sql.DEDUP_CLUSTERS_SQL

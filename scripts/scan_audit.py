"""Audit every registered query's optimized plan for repeated base-table
references — the §12 "aggregate joined back to its own subtree" disease
leaves a fingerprint: the same parquet table referenced many times in
one plan.

Usage: python scripts/scan_audit.py [sf_dir] [min_refs]

Counts `<table>.parquet` occurrences in each query's optimizedPlan()
string and prints every query where some table appears >= min_refs
(default 3) times, highest first.

Caveat when reading the output: a `persist_once` subtree prints its
cold recipe at EVERY consumer, so reference counts overstate executed
scans for cached pipelines (minhash/simhash signatures, the scale
machinery's `_range_bucket` input, ANN index builds).  The count is a
lead, not a verdict — confirm with `.explain("formatted")` /
`perfbench/run.py --trace 1` timings before restructuring.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kukur_spark.io import TABLES, load_table  # noqa: E402
from kukur_spark.session import get_spark  # noqa: E402
from kukur_spark.workloads import QUERIES  # noqa: E402


def main() -> None:
    sf = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    min_refs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("scan-audit")
    for t in TABLES:
        load_table(spark, sf, t)
    rows = []
    errs = {}
    for name, fn in QUERIES.items():
        try:
            plan = (
                fn(spark, sf)._jdf.queryExecution().optimizedPlan().toString()
            )
        except Exception as e:  # noqa: BLE001 — report, keep auditing
            errs[name] = str(e)[:200]
            continue
        counts: dict = {}
        for m in re.finditer(r"(\w+)\.parquet", plan):
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
        worst = max(counts.values(), default=0)
        if worst >= min_refs:
            rows.append((worst, name, counts))
    rows.sort(reverse=True)
    for worst, name, counts in rows:
        print(f"{worst}x  {name:35s} {counts}")
    print(f"done: {len(QUERIES) - len(errs)} built, {len(errs)} errors")
    for name, err in errs.items():
        print(f"ERR   {name}: {err}")


if __name__ == "__main__":
    main()

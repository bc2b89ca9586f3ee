"""Isolate per-query cost: plan-construction vs executed compute (noop sink).

Usage: python scripts/isolate.py [sf_dir] [query ...]   (default: bench set)

For each query, after one untimed warm-up, reports over best-of-2:
  build_s  — wall time of the QUERIES[name](spark, sf) call itself
             (driver-side: analysis plus any eager py4j work the
             constructor performs, e.g. plan-statistics probes);
  noop_s   — wall time of df.write.format("noop") (computes every column
             of every row; guide §1.4 — immune to count()'s column
             pruning);
  count_s  — wall time of df.count() (the bench's timed action, kept for
             comparability).

Optionally writes .explain("formatted") to --plans <dir>/<query>_<tag>.txt.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402
from kukur_spark.io import TABLES, load_table  # noqa: E402
from kukur_spark.session import get_spark  # noqa: E402
from kukur_spark.workloads import QUERIES  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans_dir = None
    tag = "before"
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    sf = args[0] if args else "/root/testdata/sf0.1"
    names = args[1:] or BENCH_QUERIES
    spark = get_spark("isolate")
    for t in TABLES:
        load_table(spark, sf, t)
    # session warm-up (mirrors bench.py)
    for warm in ("tpch_q3", "ts_plot_buckets", "tpch_q1"):
        QUERIES[warm](spark, sf).count()
    for name in names:
        spark.sparkContext.setJobDescription(f"isolate:{name}")
        # warm-up: codegen + file listing + fills persist_once caches
        QUERIES[name](spark, sf).write.format("noop").mode("overwrite").save()
        build = noop = cnt = float("inf")
        for _ in range(2):
            t0 = time.time()
            df = QUERIES[name](spark, sf)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            build = min(build, t1 - t0)
            noop = min(noop, t2 - t1)
        for _ in range(2):
            df = QUERIES[name](spark, sf)
            t2 = time.time()
            df.count()
            cnt = min(cnt, time.time() - t2)
        print(
            f"{name:28s} build={build:6.3f}  noop={noop:6.3f}  "
            f"count={cnt:6.3f}",
            flush=True,
        )
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            df = QUERIES[name](spark, sf)
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()

"""The ``analytics`` workload: the ``bench.py`` headline queries over
generated registry tables, each built with ``QUERIES[name](spark,
sf_dir)`` and finished with ``.count()``, the action ``bench.py`` times.

It never touches Flight or the sources: it is the control for changes on
the verb path, and the workload the registry and operator work moves.
"""

from __future__ import annotations

import time
from typing import Optional

import numpy as np

from perfbench import checks
from perfbench.loop import Op

def oracle_counts(table_paths: dict[str, str], names: list[str]) -> dict[str, Optional[int]]:
    """Row count of each query's DuckDB oracle over the same files."""
    import duckdb

    from kukur_spark.workloads import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for table, path in table_paths.items():
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        counts: dict[str, Optional[int]] = {}
        for name in names:
            sql = ORACLES.get(name)
            counts[name] = (
                None if sql is None
                else con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            )
        return counts
    finally:
        con.close()


class QueryTraffic:
    """Per round, every headline query once, in a seed-shuffled order."""

    def __init__(self, seed: int, spark, sf_dir: str, names: list[str],
                 expected: dict[str, Optional[int]]):
        from kukur_spark.workloads import QUERIES

        self.queries = QUERIES
        self.spark = spark
        self.sf_dir = sf_dir
        order = np.random.default_rng(seed + 1).permutation(len(names))
        self.kinds = [names[i] for i in order]
        self.gated_kinds = self.kinds
        self.expected = dict(expected)

    def prime(self) -> list[Op]:
        return []

    def round(self) -> list[Op]:
        return [self._op(name) for name in self.kinds]

    def _op(self, name: str) -> Op:
        def call(record):
            start = time.perf_counter()
            frame = self.queries[name](self.spark, self.sf_dir)
            built = time.perf_counter()
            rows = frame.count()
            if record.traced:
                record.add("workloads.query", built - start)
                record.add("spark.count", time.perf_counter() - built)
            record.rows = rows
            return rows

        def check(rows):
            if self.expected.get(name) is None:
                # no DuckDB oracle (the xxhash64 fast path
                # minhash_lsh_pairs): the first answer pins the rest
                self.expected[name] = rows
            return checks.check_count(name, rows, self.expected[name])

        return Op(name, call, check)

"""Property test: the streaming DQ report equals the batch rule engine.

VERDICT r8 #5: beyond the example-based twins in test_streaming.py,
drive random rule sets × random micro-batch splits and assert the
stream's closed windows equal ``workloads_r14.expectations_report``
grouped on the same event-time buckets over the union of all batches.
``operators/validate.py`` predicates are the shared core, so any
disagreement here is a bug in the streaming *machinery* (watermark,
incremental state, unpivot), not the rules.
"""

import os
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

# single-FILE parquet (Spark writes directories whose inner part-file
# mtimes the file-stream source orders by — useless for controlling
# batch order); arrow schema matches SCHEMA below
ARROW_SCHEMA = pa.schema(
    [
        ("series", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
    ]
)


def _write_batch(path: str, rows, mtime: int) -> None:
    table = pa.Table.from_pylist(
        [{"series": s, "ts": t, "value": v} for s, t, v in rows],
        schema=ARROW_SCHEMA,
    )
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))

SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

SERIES = ["s1", "s2", "sX", None]
VALUES = [-5.0, -1.0, 0.0, 1.0, 3.5, None]


def ts(minute):
    return datetime(2020, 1, 1, 0, minute, tzinfo=timezone.utc)


def _rule_pool(V):
    """Parameterized rule constructors drawn by the strategy."""
    return [
        lambda: ("value_not_null", V.not_null("value")),
        lambda: ("value_positive", V.positive("value")),
        lambda: ("value_non_negative", V.non_negative("value")),
        lambda: ("value_in_range", V.in_range("value", -1.0, 2.0)),
        lambda: ("series_in_set", V.in_set("series", ["s1", "s2"])),
        lambda: ("series_not_null", V.not_null("series")),
    ]


def test_streaming_report_equals_batch_on_random_splits(spark, tmp_path):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kukur_spark.operators import validate as V
    from kukur_spark.streaming import streaming_expectations_report
    from kukur_spark.workloads_r14 import expectations_report

    pool = _rule_pool(V)

    row_strategy = st.tuples(
        st.sampled_from(SERIES),
        st.integers(0, 9),  # event minutes inside the watermark delay
        st.sampled_from(VALUES),
    )

    @given(
        rule_idx=st.lists(
            st.integers(0, len(pool) - 1), min_size=1, max_size=4, unique=True
        ),
        rows=st.lists(row_strategy, min_size=1, max_size=25),
        n_batches=st.integers(1, 4),
        assignment=st.lists(st.integers(0, 3), min_size=25, max_size=25),
    )
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(rule_idx, rows, n_batches, assignment):
        rules = [pool[i]() for i in rule_idx]
        data = [(s, ts(m), v) for s, m, v in rows]
        # sentinel row drives the watermark past every data window; it
        # must arrive in the LAST micro-batch so no data is dropped as
        # late (file mtimes order the file-stream's batches)
        sentinel = ("s1", ts(50), 1.0)
        src = str(tmp_path / f"src_{uuid.uuid4().hex[:8]}")
        os.makedirs(src)
        batches = [[] for _ in range(n_batches)]
        for i, row in enumerate(data):
            batches[assignment[i] % n_batches].append(row)
        for b, batch_rows in enumerate(batches):
            if not batch_rows:
                continue
            _write_batch(
                os.path.join(src, f"batch_{b}.parquet"),
                batch_rows,
                1_600_000_000 + b,
            )
        _write_batch(
            os.path.join(src, "batch_sentinel.parquet"),
            [sentinel],
            1_600_000_000 + n_batches,
        )

        stream = (
            spark.readStream.format("parquet")
            .schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )
        out = streaming_expectations_report(stream, rules)
        name = f"out_{uuid.uuid4().hex[:8]}"
        query = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        got = {
            (r.window_start, r.check_name): (r.violations, r.total)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        spark.catalog.dropTempView(name)

        # batch rule engine over the union (data + sentinel), grouped on
        # the same 5-minute buckets; the sentinel's own window never
        # closes in append mode, so it is excluded from the comparison
        union = spark.createDataFrame(data + [sentinel], SCHEMA).withColumn(
            "window_start", F.window("ts", "5 minutes").start
        )
        want = {
            (r.window_start, r.check_name): (r.violations, r.total)
            for r in expectations_report(
                union, rules=rules, group_cols=("window_start",)
            ).collect()
            if r.window_start.minute != 50
        }
        assert got == want

    check()

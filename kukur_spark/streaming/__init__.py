"""Structured Streaming extensions.

The reference has **no** streaming operators (SURVEY.md §2.9) — these are
the Spark-native extension of the 4 verbs to continuous data:

- ``stream_data``: a streaming ``get_data`` — file-source stream with the
  same tag/range predicates and canonical projection;
- ``windowed_stats``: watermarked tumbling/sliding window aggregates
  (count/sum/min/max) per series — the streaming twin of plot buckets;
- ``streaming_counter_delta`` / ``streaming_exp_smooth``: custom stateful
  operators via ``applyInPandasWithState``, the streaming twins of the
  batch counter-delta and smoothing folds;
- ``streaming_expectations_gate`` / ``_report``: the validation rule
  vocabulary evaluated per row and per event-time window.

All operators compose on any streaming DataFrame (Kafka, file, socket);
tests drive them with a file source + memory sink + processAllAvailable.

API-generation note: the stateful operators use
``applyInPandasWithState`` (stable since 3.4) rather than Spark 4's
``transformWithStateInPandas``.  TWS was probed on this Spark 4.1.2
image and its Python client hard-requires ``google.protobuf`` (the
state-server wire protocol), which is not installed and cannot be
added here — the driver worker exits with ImportError before init.
The operator semantics are identical for the patterns used (ValueState
per group, update-mode emission); a TWS port is a mechanical rename of
the update functions into ``StatefulProcessor.handleInputRows`` once
protobuf is available.
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from kukur_spark.schema import TS_COLUMN, VALUE_COLUMN


def stream_data(
    spark,
    path: str,
    schema: T.StructType,
    file_format: str = "parquet",
    tags: Optional[dict] = None,
) -> DataFrame:
    """Streaming scan with the engine's tag-equality predicates (F2)."""
    df = (
        spark.readStream.format(file_format)
        .schema(schema)
        .load(path)
    )
    for key, value in (tags or {}).items():
        df = df.filter(F.col(key) == F.lit(value))
    return df


def windowed_stats(
    df: DataFrame,
    window: str = "5 minutes",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
    group_columns: Optional[List[str]] = None,
) -> DataFrame:
    """Watermarked window aggregate: n/sum/min/max/first/last per window."""
    group_columns = group_columns or []
    win = (
        F.window(TS_COLUMN, window, slide) if slide else F.window(TS_COLUMN, window)
    )
    return (
        df.withWatermark(TS_COLUMN, watermark)
        .groupBy(win.alias("w"), *group_columns)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(VALUE_COLUMN).alias("sum_value"),
            F.min(VALUE_COLUMN).alias("min_value"),
            F.max(VALUE_COLUMN).alias("max_value"),
            F.min_by(VALUE_COLUMN, F.col(TS_COLUMN)).alias("first_value"),
            F.max_by(VALUE_COLUMN, F.col(TS_COLUMN)).alias("last_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_columns,
            "n",
            "sum_value",
            "min_value",
            "max_value",
            "first_value",
            "last_value",
        )
    )


_COUNTER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)

_COUNTER_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("delta", T.DoubleType()),
    ]
)


def _update_counter_delta(
    key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
):
    last_ts, last_value = state.get if state.exists else (None, None)
    out_ts: List[int] = []
    out_delta: List[float] = []
    # null values would emit NaN deltas and poison the saved state (the
    # next real point would misreport as a reset) — drop them like the
    # batch ts_counter_delta drops null-delta rows
    frames = [pdf.dropna(subset=["ts_us", "value"]) for pdf in pdfs]
    frames = [pdf for pdf in frames if len(pdf)]
    if frames:
        batch = pd.concat(frames).sort_values("ts_us")
        for ts_us, value in zip(batch["ts_us"], batch["value"]):
            ts_us = int(ts_us)
            value = float(value)
            if last_value is not None and ts_us >= (last_ts or 0):
                # monotonic counters reset to ~0 on restart: a drop is a
                # reset, the delta since reset is the new raw value
                delta = value - last_value if value >= last_value else value
                out_ts.append(ts_us)
                out_delta.append(delta)
            if last_ts is None or ts_us >= last_ts:
                last_ts, last_value = ts_us, value
    state.update((last_ts, last_value))
    yield pd.DataFrame(
        {
            "series": [key[0]] * len(out_ts),
            "ts_us": out_ts,
            "delta": out_delta,
        }
    )


def streaming_counter_delta(
    df: DataFrame, series_column: str = "series"
) -> DataFrame:
    """Stateful per-series counter increments with reset detection —
    the streaming twin of the batch ``ts_counter_delta`` workload.

    Input needs ``series, ts, value`` (a monotonic counter with
    occasional restarts). Emits one row per consumed point carrying the
    increment since the previous point; a value drop is treated as a
    counter reset (delta = raw value), matching the batch operator's
    semantics. State per series is two scalars — O(distinct series)
    total, the minimum any cross-batch diff can hold.
    """
    prepared = df.select(
        F.col(series_column).alias("series"),
        F.unix_micros(F.col(TS_COLUMN).cast("timestamp")).alias("ts_us"),
        F.col(VALUE_COLUMN).cast("double").alias("value"),
    )
    return prepared.groupBy("series").applyInPandasWithState(
        _update_counter_delta,
        outputStructType=_COUNTER_OUTPUT_SCHEMA,
        stateStructType=_COUNTER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming exponential smoothing (twin of workloads_r7.ts_exp_smooth)
# ---------------------------------------------------------------------------
_SMOOTH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("smooth_e6", T.LongType()),
    ]
)

_SMOOTH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("smooth_e6", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _update_exp_smooth(
    key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
):
    smooth, n = state.get if state.exists else (None, 0)
    # concat before sorting (the fold is order-dependent across chunks);
    # null values would arrive as NaN in the long column — drop them like
    # null timestamps, they carry no fold contribution
    chunks = [pdf.dropna(subset=["ts_us", "v_e6"]) for pdf in pdfs]
    chunks = [c for c in chunks if len(c)]
    if chunks:
        pdf = pd.concat(chunks).sort_values(["ts_us", "v_e6"])
        n += len(pdf)
        for v in pdf["v_e6"]:
            v = int(v)
            smooth = v if smooth is None else (smooth + v) >> 1
    # a group whose every arrival so far was null has consumed nothing:
    # emitting an (n=0, smooth=NULL) row would invent a series the batch
    # fold never reports (found by the split-invariance property test),
    # and writing state for it would leak a permanent invisible entry
    # per all-null key (ADVICE r9) — skip both until a real value lands
    if n:
        state.update((smooth, n))
        yield pd.DataFrame(
            {"series": [key[0]], "n": [n], "smooth_e6": [smooth]}
        )
    else:
        yield pd.DataFrame({"series": [], "n": [], "smooth_e6": []})


def streaming_exp_smooth(df: DataFrame, series_column: str = "series") -> DataFrame:
    """Running α=1/2 exponential smoothing per series — the batch fold's
    streaming twin.

    State is exactly the fold's carry: one long (plus a counter) per
    series, which is why the recursion streams at all.  Values ride the
    same decimal→e6 bridge and arithmetic-shift halving as the batch
    operator, so for in-order arrival the running value equals the
    batch fold over the same prefix.
    """
    prepared = df.select(
        F.col(series_column).alias("series"),
        F.unix_micros(F.col(TS_COLUMN).cast("timestamp")).alias("ts_us"),
        F.floor(F.col(VALUE_COLUMN).cast("decimal(30,10)") * 1_000_000)
        .cast("long")
        .alias("v_e6"),
    )
    return prepared.groupBy("series").applyInPandasWithState(
        _update_exp_smooth,
        outputStructType=_SMOOTH_OUTPUT_SCHEMA,
        stateStructType=_SMOOTH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming data-quality twins (of workloads_r14.expectations_report /
# operators/validate.py — same Rule vocabulary, so batch and stream can
# never drift)
# ---------------------------------------------------------------------------
def streaming_expectations_gate(df: DataFrame, rules) -> DataFrame:
    """Stateless ingest gate: evaluate every validation rule per row as
    data arrives, attaching ``violated`` — the array of failed rule
    names (empty ⇒ clean).

    The streaming counterpart of the batch
    ``workloads_r14.expectations_report`` at row granularity: rules
    compile through the SAME ``operators/validate.violation_predicate``
    vocabulary, and the whole gate is one map-side projection (no state,
    no shuffle) — at ingest scale this is where a pipeline splits clean
    rows from a quarantine sink *before* paying to persist or shuffle
    bad data, evaluating the rule set exactly once.

    ``rules`` is the batch report's ``[(name, Rule), ...]`` shape.
    """
    from kukur_spark.operators import validate as V

    if not rules:
        raise ValueError("streaming_expectations_gate needs at least one rule")
    flags = F.array(
        *[
            F.when(V.violation_predicate(rule), F.lit(name))
            for name, rule in rules
        ]
    )
    return df.withColumn(
        "violated", F.filter(flags, lambda x: x.isNotNull())
    )


def streaming_expectations_report(
    df: DataFrame,
    rules,
    ts_column: str = TS_COLUMN,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-event-time-window rule-violation counts over a stream.

    The windowed twin of ``workloads_r14.expectations_report``
    (``group_cols`` = the event-time window instead of a commit
    version): ONE watermarked windowed aggregate carries every rule as
    a conditional count — adding a rule adds a column to the aggregate,
    never a pass over the stream — then the same ``stack`` unpivot
    shapes the report.  Returns
    ``window_start, window_end, check_name, violations, total``.
    """
    from kukur_spark.operators import validate as V

    if not rules:
        raise ValueError(
            "streaming_expectations_report needs at least one rule"
        )
    aggs = [
        F.count(F.when(V.violation_predicate(rule), True)).alias(f"v{i}")
        for i, (_, rule) in enumerate(rules)
    ]
    wide = (
        df.withWatermark(ts_column, watermark)
        .groupBy(F.window(ts_column, window).alias("w"))
        .agg(*aggs, F.count(F.lit(1)).alias("total"))
    )
    stack_args = ", ".join(
        f"'{name}', v{i}" for i, (name, _) in enumerate(rules)
    )
    return wide.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.expr(
            f"stack({len(rules)}, {stack_args}) as (check_name, violations)"
        ),
        F.col("total"),
    )

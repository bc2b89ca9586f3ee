"""The closed loop every workload runs, and the metrics it reports.

A workload is a traffic object whose ``round()`` returns the next list
of :class:`Op`; ``kinds`` names the operation kinds it issues.  Each kind
keeps its own latency distribution: kinds differ in cost by up to three
orders of magnitude, so one pooled percentile would land between modes
and jump whenever the mix shifts.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass
from typing import Any, Callable, Optional

from perfbench.stats import summary
from perfbench.trace import CallRecord


@dataclass
class Op:
    """One client operation: ``call`` does it (and fills the record's
    rows / first-batch fields), ``check`` judges the payload outside the
    timed region and returns an error string or ``None``."""

    kind: str
    call: Callable[[CallRecord], Any]
    check: Callable[[Any], Optional[str]]


class Runner:
    """Executes ops one at a time and counts attempts and failures; a
    failed op contributes no latency sample."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def execute(self, op: Op, traced: bool) -> Optional[CallRecord]:
        record = CallRecord(op.kind, traced)
        tracer = self.tracer if traced else None
        if tracer is not None:
            first_job = tracer.next_job_id()
            tracer.call = record
            tracer.active = True
        error = None
        payload = None
        start = time.perf_counter()
        try:
            payload = op.call(record)
        except Exception as exc:  # a failed call is counted, not fatal
            error = f"{op.kind}: {type(exc).__name__}: {str(exc)[:300]}"
        record.wall_s = time.perf_counter() - start
        if tracer is not None:
            tracer.active = False
            tracer.call = None
            record.jobs = tracer.next_job_id() - first_job
        if error is None:
            try:
                error = op.check(payload)
            except Exception as exc:
                error = f"{op.kind} check: {type(exc).__name__}: {exc}"
        self.attempted += 1
        if error is not None:
            self.failed += 1
            if len(self.errors) < 10:
                self.errors.append(error)
            return None
        return record

    def rounds(
        self,
        traffic,
        count: Optional[int] = None,
        seconds: Optional[float] = None,
        trace: bool = False,
    ) -> list[CallRecord]:
        """Run ``count`` whole rounds, or ops until ``seconds`` have
        elapsed (checked before every op, so a long round cannot stretch
        the window, but only once every kind has a sample: one whole
        round, two when tracing).  With ``trace`` every other round is
        traced, so traced and untraced samples interleave over the same
        stretch of time."""
        records = []
        deadline = None if seconds is None else time.perf_counter() + seconds
        first_rounds = 2 if trace else 1
        done = 0
        while count is None or done < count:
            traced = trace and done % 2 == 0
            for op in traffic.round():
                if (deadline is not None and done >= first_rounds
                        and time.perf_counter() >= deadline):
                    return records
                record = self.execute(op, traced)
                if record is not None:
                    records.append(record)
            done += 1
        return records


def by_kind(records: list[CallRecord], kinds: list[str]) -> dict[str, list[CallRecord]]:
    """The records of each of ``kinds``; records of other kinds are
    dropped."""
    grouped: dict[str, list[CallRecord]] = {kind: [] for kind in kinds}
    for record in records:
        if record.kind in grouped:
            grouped[record.kind].append(record)
    return grouped


def wall_ms(records: list[CallRecord]) -> list[float]:
    return [r.wall_s * 1000.0 for r in records]


def end_to_end(records: list[CallRecord], kinds: list[str], setup_s: float) -> dict:
    """The gated metrics over the given kinds, identical in meaning on
    every workload."""
    medians = []
    for kind, group in by_kind(records, kinds).items():
        if not group:
            raise RuntimeError(f"no successful {kind} call was timed")
        medians.append(statistics.median(wall_ms(group)))
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "p50_ms": {"value": statistics.geometric_mean(medians), "unit": "ms"},
        "sum_p50_ms": {"value": sum(medians), "unit": "ms"},
    }


def kind_summaries(records: list[CallRecord], kinds: list[str]) -> dict:
    """Per-kind median / tail / count / first-vs-last-quarter drift."""
    return {
        kind: summary(wall_ms(group))
        for kind, group in by_kind(records, kinds).items()
        if group
    }


BUILD_PREFIXES = ("app.", "workloads.")
EXEC_SPANS = ("spark.collect", "spark.count", "spark.iterate")
# execution that runs inside a build span (search drains its frame
# before app.search returns)
NESTED_EXEC_SPANS = ("spark.iterate",)


def layer_split(record: CallRecord) -> tuple[float, float, float]:
    """(build, exec, residual) in ms: driver-side plan build at the
    program's entry point, Spark execution of the built frame, and
    the rest of the client's wall time (JSON, Arrow IPC and gRPC on the
    Flight workloads; loop overhead in process)."""
    # app.<verb> spans enclose the sources.* and operators.* spans
    spans = record.spans
    nested = sum(spans.get(n, 0.0) for n in NESTED_EXEC_SPANS)
    build = sum(v for k, v in spans.items() if k.startswith(BUILD_PREFIXES)) - nested
    execute = sum(spans.get(n, 0.0) for n in EXEC_SPANS)
    return build * 1000.0, execute * 1000.0, (record.wall_s - build - execute) * 1000.0


def _kind_layers(records: list[CallRecord], kinds: list[str]) -> dict[str, dict]:
    """Per kind, medians over its traced calls of the layer split, the
    job count and the Arrow bytes, plus the tracing overhead: traced minus
    untraced median wall time."""
    traced_by = by_kind([r for r in records if r.traced], kinds)
    plain_by = by_kind([r for r in records if not r.traced], kinds)
    table = {}
    for kind in kinds:
        group = traced_by[kind]
        if not group:
            raise RuntimeError(f"no traced {kind} call")
        splits = [layer_split(r) for r in group]
        plain = plain_by[kind]
        table[kind] = {
            "build_ms": statistics.median(s[0] for s in splits),
            "exec_ms": statistics.median(s[1] for s in splits),
            "residual_ms": statistics.median(s[2] for s in splits),
            "jobs": statistics.median(r.jobs for r in group),
            "arrow_bytes": statistics.median(r.arrow_bytes for r in group),
            "trace_overhead_ms": (
                statistics.median(wall_ms(group)) - statistics.median(wall_ms(plain))
                if plain else 0.0
            ),
        }
        for name in sorted({n for r in group for n in r.spans}):
            table[kind][f"span:{name}"] = statistics.median(
                r.spans.get(name, 0.0) * 1000.0 for r in group
            )
    return table


def per_layer(records: list[CallRecord], kinds: list[str]) -> dict:
    """Declared per-layer metrics: each is the sum over kinds of the
    per-kind median, so build + exec + residual decompose
    ``sum_p50_ms``."""
    table = _kind_layers(records, kinds)
    out = {}
    for key in ("build_ms", "exec_ms", "residual_ms", "jobs", "trace_overhead_ms"):
        out[key] = {
            "value": sum(row[key] for row in table.values()),
            "unit": "count" if key == "jobs" else "ms",
        }
    return out


def layer_detail(records: list[CallRecord], kinds: list[str]) -> dict:
    """The per-kind rows under the names of the README's layer → metric
    map (printed, not gated)."""
    out: dict[str, float] = {}
    for kind, row in _kind_layers(records, kinds).items():
        for key, value in row.items():
            if key.startswith("span:"):
                out[f"{key[5:]}.{kind}.ms"] = value
        out[f"wire.{kind}.ms"] = row["residual_ms"]
        out[f"spark.{kind}.jobs"] = row["jobs"]
        out[f"arrow.{kind}.bytes"] = row["arrow_bytes"]
        out[f"trace.{kind}.overhead_ms"] = row["trace_overhead_ms"]
    return out

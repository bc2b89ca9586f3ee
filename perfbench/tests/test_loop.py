"""Per-kind aggregation and failure counting, without Spark."""

import pytest

from perfbench.loop import Op, Runner, end_to_end, per_layer
from perfbench.trace import CallRecord


def _record(kind, ms, traced=False, spans=None, jobs=0):
    record = CallRecord(kind, traced, wall_s=ms / 1000.0, jobs=jobs)
    record.spans.update(spans or {})
    return record


def test_end_to_end_uses_per_kind_medians():
    records = [_record("a", ms) for ms in (1.0, 2.0, 300.0)] + [_record("b", 8.0)]
    metrics = end_to_end(records, ["a", "b"], setup_s=3.5)
    # medians 2 and 8: geometric mean 4, sum 10; the 300 ms outlier of
    # kind a does not leak into either
    assert metrics["p50_ms"]["value"] == pytest.approx(4.0)
    assert metrics["sum_p50_ms"]["value"] == pytest.approx(10.0)
    assert metrics["setup_s"] == {"value": 3.5, "unit": "s"}


def test_end_to_end_covers_only_the_gated_kinds():
    records = [_record("a", 2.0), _record("b", 8.0), _record("meta", 1000.0)]
    metrics = end_to_end(records, ["a", "b"], setup_s=1.0)
    assert metrics["sum_p50_ms"]["value"] == pytest.approx(10.0)


def test_end_to_end_needs_every_kind():
    with pytest.raises(RuntimeError):
        end_to_end([_record("a", 1.0)], ["a", "b"], setup_s=1.0)


def test_per_layer_decomposes_traced_wall_time():
    spans = {"app.get_data": 0.010, "sources.get_data": 0.009, "spark.collect": 0.070}
    records = [
        _record("get_data", 100.0, traced=True, spans=spans, jobs=1),
        _record("get_data", 90.0),
    ]
    metrics = per_layer(records, ["get_data"])
    assert metrics["build_ms"]["value"] == pytest.approx(10.0)
    assert metrics["exec_ms"]["value"] == pytest.approx(70.0)
    assert metrics["residual_ms"]["value"] == pytest.approx(20.0)
    assert metrics["jobs"]["value"] == 1
    assert metrics["trace_overhead_ms"]["value"] == pytest.approx(10.0)


def test_per_layer_moves_nested_execution_out_of_build():
    # search drains its frame inside app.search
    spans = {"app.search": 0.080, "sources.search": 0.079, "spark.iterate": 0.075}
    metrics = per_layer([_record("search", 100.0, traced=True, spans=spans)], ["search"])
    assert metrics["build_ms"]["value"] == pytest.approx(5.0)
    assert metrics["exec_ms"]["value"] == pytest.approx(75.0)
    assert metrics["residual_ms"]["value"] == pytest.approx(20.0)


class _Traffic:
    kinds = ["ok", "raises", "wrong"]

    def round(self):
        def boom(record):
            raise OSError("connection reset")

        return [
            Op("ok", lambda record: 1, lambda payload: None),
            Op("raises", boom, lambda payload: None),
            Op("wrong", lambda record: 2, lambda payload: f"got {payload}"),
        ]


def test_runner_counts_failures_and_keeps_only_good_samples():
    runner = Runner()
    records = runner.rounds(_Traffic(), count=2)
    assert runner.attempted == 6
    assert runner.failed == 4
    assert [r.kind for r in records] == ["ok", "ok"]
    assert any("connection reset" in e for e in runner.errors)
    assert any("got 2" in e for e in runner.errors)


def test_timed_rounds_finish_the_first_round_past_the_deadline():
    runner = Runner()
    records = runner.rounds(_Traffic(), seconds=0.0)
    # every kind of the first round ran although the window was empty
    assert runner.attempted == 3 and [r.kind for r in records] == ["ok"]
    traced = Runner().rounds(_Traffic(), seconds=0.0, trace=True)
    assert [r.traced for r in traced] == [True, False]

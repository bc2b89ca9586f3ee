"""Output checks accept the right answer and name a wrong one."""

import numpy as np
import pyarrow as pa

from perfbench import checks

TS = np.arange(0, 40, dtype=np.int64) * 60_000_000
VALUES = np.round(np.sin(np.arange(40)), 4)


def _frame(ts, values):
    return pa.table({"ts": pa.array(ts, pa.timestamp("us", tz="UTC")), "value": values})


def test_check_data():
    assert checks.check_data(_frame(TS, VALUES), VALUES) is None
    assert "rows" in checks.check_data(_frame(TS[:-1], VALUES[:-1]), VALUES)
    wrong = VALUES.copy()
    wrong[3] += 1.0
    assert "sum" in checks.check_data(_frame(TS, wrong), VALUES)


def test_check_data_tolerates_summation_order():
    shuffled = np.random.default_rng(0).permutation(len(VALUES))
    assert checks.check_data(_frame(TS[shuffled], VALUES[shuffled]), VALUES) is None


def test_check_plot():
    picks = [0, 3, 7, 39]
    assert checks.check_plot(_frame(TS[picks], VALUES[picks]), TS, VALUES, 1) is None
    assert "not a raw point" in checks.check_plot(
        _frame(TS[picks], VALUES[picks] + 0.5), TS, VALUES, 1
    )
    assert "not a raw point" in checks.check_plot(
        _frame(TS[picks[:3]] + 1, VALUES[picks[:3]]), TS, VALUES, 1
    )
    assert "points" in checks.check_plot(_frame(TS[:5], VALUES[:5]), TS, VALUES, 1)
    assert "no points" in checks.check_plot(_frame(TS[:0], VALUES[:0]), TS, VALUES, 1)
    assert "outside" in checks.check_plot(
        _frame(TS[-1:] + 60_000_000, VALUES[-1:]), TS, VALUES, 1
    )


def test_check_search():
    names = ["a", "b", "c"]
    found = [{"source": "fed", "tags": {"series name": n}, "field": "value"} for n in names]
    assert checks.check_search(found, names) is None
    assert checks.check_search(found[:2], names) is not None
    assert checks.check_search(found + found[:1], names) is not None


def test_check_sql():
    good = pa.table({"n": [len(VALUES)], "s": [float(VALUES.sum())]})
    assert checks.check_sql(good, VALUES) is None
    assert "count" in checks.check_sql(pa.table({"n": [1], "s": [0.0]}), VALUES)
    assert "sum" in checks.check_sql(
        pa.table({"n": [len(VALUES)], "s": [float(VALUES.sum()) + 1]}), VALUES
    )
    assert "rows" in checks.check_sql(pa.table({"n": [1, 2], "s": [0.0, 0.0]}), VALUES)


def test_check_count():
    assert checks.check_count("q", 7, 7) is None
    assert "oracle" in checks.check_count("q", 6, 7)

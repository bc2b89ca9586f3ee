"""All-null groups must leave NO state behind (ADVICE r9): before this
fix, _update_exp_smooth wrote a (None, 0) state entry for a series
whose every arrival was null — a permanent, invisible per-key leak
since the output row is suppressed.  The fold function is a plain
generator, so drive it with a fake GroupState
and assert update() is only called once a real value lands."""

import pandas as pd

from kukur_spark.streaming import _update_exp_smooth


class FakeState:
    def __init__(self, value=None):
        self._value = value
        self.updates = []

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value
        self.updates.append(value)


def _pdf(rows):
    return pd.DataFrame(rows, columns=["ts_us", "v_e6"])


def _drain(gen):
    return pd.concat(list(gen), ignore_index=True)


def test_exp_smooth_all_null_batch_leaves_no_state():
    state = FakeState()
    out = _drain(
        _update_exp_smooth(("s1",), [_pdf([(1, None), (2, None)])], state)
    )
    assert state.updates == []
    assert not state.exists
    assert len(out) == 0


def test_exp_smooth_updates_once_value_arrives():
    state = FakeState()
    _drain(_update_exp_smooth(("s1",), [_pdf([(1, None)])], state))
    assert not state.exists
    out = _drain(_update_exp_smooth(("s1",), [_pdf([(2, 4_000_000)])], state))
    assert state.updates == [(4_000_000, 1)]
    assert out["n"].tolist() == [1]


def test_exp_smooth_existing_state_survives_all_null_batch():
    state = FakeState((4_000_000, 1))
    out = _drain(_update_exp_smooth(("s1",), [_pdf([(3, None)])], state))
    # carried n stays 1 > 0, so the fold re-emits and state persists
    assert state.updates == [(4_000_000, 1)]
    assert out["smooth_e6"].tolist() == [4_000_000]

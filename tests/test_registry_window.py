"""The driver's CORRECTNESS gate records only the first 50 registry
entries — pin that window.  Rounds 6-9 swept pinned lists until every
oracled query earned a driver-green row; from round 10 the window is a
standing rotation COMPUTED from the committed CORRECTNESS_r*.json
ledgers: 5 canaries + the 45 oracled names whose latest driver-green
round is oldest (never-green names first, ties by query name).
The cursor is the ledger itself — each new CORRECTNESS file advances
the rotation with zero code edits (see workloads._rotation_window)."""

from kukur_spark.workloads import (
    ORACLES,
    QUERIES,
    _WINDOW_CANARIES,
    _WINDOW_SWEEP,
    _driver_green_rounds,
)


def test_first_50_registry_entries_all_oracle_paired():
    head = list(QUERIES)[:50]
    assert [n for n in head if n not in ORACLES] == []


def test_window_is_canaries_plus_rotation():
    assert list(QUERIES)[:50] == _WINDOW_CANARIES + _WINDOW_SWEEP
    assert len(_WINDOW_CANARIES) + len(_WINDOW_SWEEP) == 50


def test_rotation_is_staleness_minimal():
    """No oracled query OUTSIDE the window is staler than any sweep
    slot INSIDE it: the rotation always re-verifies the least-recently
    driver-checked names (never-green names, e.g. new registrations,
    sort first, ties break by name)."""
    last = _driver_green_rounds()
    if not last:  # fresh clone without driver artifacts
        return

    def key(name):
        return (last.get(name, -1), name)

    outside = [
        n
        for n in QUERIES
        if n in ORACLES and n not in _WINDOW_CANARIES and n not in _WINDOW_SWEEP
    ]
    worst_inside = max(key(n) for n in _WINDOW_SWEEP)
    assert all(key(n) > worst_inside for n in outside)


def test_rotation_is_deterministic():
    """Recomputing the window from the same ledgers yields the same
    ordered list — the driver and a fresh import see one window."""
    from kukur_spark.workloads import _rotation_window

    again = _rotation_window(QUERIES, ORACLES, _WINDOW_CANARIES)
    assert again == _WINDOW_SWEEP


def test_canaries_stay_proven():
    """Canaries are long-proven regression tripwires — each must carry
    a driver-green row already (they are never first-time slots)."""
    last = _driver_green_rounds()
    if not last:
        return
    assert [n for n in _WINDOW_CANARIES if n not in last] == []


def test_rotation_loses_nothing():
    # every query stays registered and (except the documented xxhash64
    # fast paths) oracle-paired
    missing = sorted(set(QUERIES) - set(ORACLES))
    assert missing == [
        "docs_quality_classifier_fast",
        "minhash_lsh_pairs",
        "simhash_pairs",
    ]

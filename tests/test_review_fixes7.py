"""Round-7 self-review fixes, each pinned:

1. read_delta string timestamps prefer the ISO-8601 calendar reading:
   compact dates like "20240101" are dates, not epoch millis.
2. A persist cap of 0 disables eviction (unbounded cache), not
   caching itself — matching the 0-disables-the-guard convention.
"""

import os
from datetime import datetime

import pytest

from kukur_spark.sources.delta_log import read_delta
from tests.test_delta_log import (
    _add,
    _commit,
    _meta_action,
    _write_parquet,
    _PROTOCOL,
)


def test_read_delta_compact_iso_date_string(spark, tmp_path):
    """'20240101' is ISO-8601 basic format — it must resolve as the
    calendar date (after the 2023 commit), not as epoch millis 20.2M
    (≈1970, before every commit)."""
    root = str(tmp_path / "isodate")
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    _write_parquet(
        spark, [("a", 1.0)], "id string, value double",
        os.path.join(root, "f0.parquet"),
    )
    ts_2023 = int(datetime(2023, 6, 1).timestamp() * 1000)
    _commit(log_dir, 0, [
        _PROTOCOL,
        _meta_action([("id", "string"), ("value", "double")]),
        {"commitInfo": {"timestamp": ts_2023}},
        _add("f0.parquet"),
    ])
    df = read_delta(spark, root, timestamp="20240101")
    assert df.count() == 1
    # pure epoch-millis digit strings still work (not valid ISO)
    df2 = read_delta(spark, root, timestamp=str(ts_2023 + 1))
    assert df2.count() == 1
    # a date before the first commit still fails loudly
    with pytest.raises(ValueError):
        read_delta(spark, root, timestamp="20230101")


def test_persist_cap_zero_disables_eviction_not_caching(spark):
    import kukur_spark.io as io

    df = spark.range(10).selectExpr("id", "id * 2 as v")
    old_cap, old_fifo = io._PERSISTED_CAP, list(io._PERSISTED_FIFO)
    try:
        io._PERSISTED_CAP = 0
        out = io.persist_once(df)
        level = out.storageLevel
        assert level.useMemory or level.useDisk  # still cached
        assert out in io._PERSISTED_FIFO  # tracked, never evicted
    finally:
        io._PERSISTED_CAP = old_cap
        for frame in io._PERSISTED_FIFO:
            if frame not in old_fifo:
                try:
                    frame.unpersist(blocking=False)
                except Exception:
                    pass
        io._PERSISTED_FIFO[:] = old_fifo

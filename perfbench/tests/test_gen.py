"""The generator is a pure function of the seed."""

from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def _bytes(paths):
    return {Path(p).name: Path(p).read_bytes() for p in paths}


def test_series_source_same_seed_same_files(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    a = gen.series_source(5, str(tmp_path / "a"), 8, 50, gen.MINUTE_US, "s")
    b = gen.series_source(5, str(tmp_path / "b"), 8, 50, gen.MINUTE_US, "s")
    assert _bytes([a.path]) == _bytes([b.path])
    assert np.array_equal(a.values, b.values)
    assert a.names == b.names


def test_series_source_other_seed_other_values(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    a = gen.series_source(5, str(tmp_path / "a"), 8, 50, gen.MINUTE_US, "s")
    b = gen.series_source(6, str(tmp_path / "b"), 8, 50, gen.MINUTE_US, "s")
    assert not np.array_equal(a.values, b.values)


def test_series_file_matches_ground_truth(tmp_path):
    src = gen.series_source(3, str(tmp_path), 4, 30, gen.MINUTE_US, "s")
    table = pq.read_table(src.path).to_pydict()
    name = src.names[2]
    rows = [i for i, n in enumerate(table["series name"]) if n == name]
    assert [table["value"][i] for i in rows] == list(src.values[2])
    start = gen.T0_US + 5 * gen.MINUTE_US
    # half-open [start, start + 10 min) holds points 5..14
    assert np.array_equal(
        src.window(name, start, start + 10 * gen.MINUTE_US), src.values[2, 5:15]
    )
    # a start between grid points rounds up to the next point
    assert np.array_equal(
        src.window(name, start + 1, start + 10 * gen.MINUTE_US), src.values[2, 6:15]
    )


def test_analytics_tables_deterministic(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    a = gen.analytics_tables(9, str(tmp_path / "a"), sf=0.001)
    b = gen.analytics_tables(9, str(tmp_path / "b"), sf=0.001)
    assert sorted(a) == sorted(b)
    assert _bytes(a.values()) == _bytes(b.values())
    lineitem = pq.read_table(a["lineitem"])
    assert lineitem.num_rows == 6000
    assert lineitem.schema.field("l_shipdate").type.unit == "us"

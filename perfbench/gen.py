"""Seeded input generators and their NumPy ground truth.

Every input the benchmark hands the program is built here from the
``--seed`` argument alone: the same seed writes byte-identical parquet
files and returns the same ground truth.  The program under test only
ever sees the written files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in epoch microseconds; every generated series
#: starts here.
T0_US = 1_704_067_200_000_000
MINUTE_US = 60_000_000
SECOND_US = 1_000_000


@dataclass
class SeriesSource:
    """A row-format parquet source of ``len(names)`` series on a regular
    grid: series ``i`` has ``values[i, k]`` at ``T0_US + k * step_us``."""

    path: str
    names: list[str]
    values: np.ndarray  # (series, points) float64
    step_us: int

    def index(self, name: str) -> int:
        return self.names.index(name)

    def window(self, name: str, start_us: int, end_us: int) -> np.ndarray:
        """Ground-truth values of ``name`` in the half-open range."""
        lo = max(0, -(-(start_us - T0_US) // self.step_us))
        hi = min(self.values.shape[1], -(-(end_us - T0_US) // self.step_us))
        return self.values[self.index(name), lo:max(lo, hi)]


def _write_series(
    path: str, names: list[str], values: np.ndarray, step_us: int, row_group: int
) -> None:
    series, points = values.shape
    ts = T0_US + np.arange(points, dtype=np.int64) * step_us
    table = pa.table(
        {
            "series name": pa.DictionaryArray.from_arrays(
                np.repeat(np.arange(series, dtype=np.int32), points),
                pa.array(names),
            ).cast(pa.string()),
            "ts": pa.array(np.tile(ts, series), pa.timestamp("us", tz="UTC")),
            "value": values.reshape(-1),
        }
    )
    pq.write_table(table, path, row_group_size=row_group)


def series_source(
    seed: int, out_dir: str, series: int, points: int, step_us: int,
    prefix: str, row_group: int = 65_536,
) -> SeriesSource:
    """Random-walk series sorted by (series, ts), as a historian exports
    them; small row groups so a one-series read prunes to a few groups."""
    rng = np.random.default_rng(seed)
    names = [f"{prefix}{i:05d}" for i in range(series)]
    steps = rng.normal(0.0, 1.0, size=(series, points))
    values = np.round(np.cumsum(steps, axis=1) + rng.uniform(-50, 50, (series, 1)), 4)
    path = os.path.join(out_dir, f"{prefix}.parquet")
    _write_series(path, names, values, step_us, row_group)
    return SeriesSource(path, names, values, step_us)


# --------------------------------------------------------------------------
# analytics tables: the TPC-H-ish star schema plus events, documents and
# embeddings, with the column names, types and value domains of the
# registry's test tables at sf0.1
# --------------------------------------------------------------------------

_VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "rod", "anvil", "widget", "gizmo"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DAY_US = 86_400 * SECOND_US


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _choice(rng, options: list[str], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        rng.integers(0, len(options), n).astype(np.int32), pa.array(options)
    ).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def analytics_tables(seed: int, out_dir: str, sf: float = 0.1) -> dict[str, str]:
    """Write the ten registry tables at scale ``sf``; returns name → path."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), 2_000
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _choice(rng, _PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": _choice(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["O", "F"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev, dtype=np.int64)) + T0_US
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, int(15_000 * sf), n_ev, dtype=np.int64),
            "event_type": _choice(rng, _EVENT_TYPES, n_ev),
            "value": _money(rng, 0.0, 560.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    centers = rng.normal(0.0, 0.1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vectors = (centers[labels] + rng.normal(0.0, 0.08, (n_emb, 64))).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vectors.reshape(-1)), 64
            ).cast(pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary; about 2% are
    near-duplicates (one word changed) and 0.2% exact duplicates, so the
    dedup and minhash queries have pairs to find."""
    texts = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < 0.002:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 0 and roll < 0.022:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = _VOCAB[rng.integers(0, len(_VOCAB))]
        else:
            words = [_VOCAB[w] for w in rng.integers(0, len(_VOCAB), rng.integers(8, 100))]
        texts.append(" ".join(words))
    lang_p = np.array([0.41, 0.15, 0.14, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[k] for k in rng.choice(5, n, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

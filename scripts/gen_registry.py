"""Generate REGISTRY.md — the query→module index (VERDICT r9 #6).

The registered queries live across ~20 workloads modules; this script
maps every registered name to its defining module:line, oracle pairing, and
driver-verification history so a maintainer can find
`events_kmv_overlap` without grep.  Regenerate after adding queries or
when a new CORRECTNESS_r{N}.json lands:

    python scripts/gen_registry.py > REGISTRY.md
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _green_rounds() -> dict[str, list[int]]:
    greens: dict[str, list[int]] = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        match = re.search(r"r(\d+)\.json$", path)
        if not match:
            continue
        rnd = int(match.group(1))
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and not row.get("err")
            ):
                greens.setdefault(name, []).append(rnd)
    return {k: sorted(set(v)) for k, v in greens.items()}


def generate() -> str:
    from kukur_spark.workloads import ORACLES, QUERIES

    greens = _green_rounds()
    window = set(list(QUERIES)[:50])
    lines = [
        "# REGISTRY — query → module index (generated)",
        "",
        "Generated by `scripts/gen_registry.py`; do not edit by hand.",
        "One row per registered query: where it lives, whether it is",
        "oracle-paired (rows-only twins are documented in",
        "NEVER_CHECKED.md), every round the driver recorded it green",
        "(rows+schema+no-error in CORRECTNESS_r{N}.json), and whether it",
        "sits in the CURRENT first-50 driver window (the ledger-driven",
        "rotation in `workloads._rotation_window`).",
        "",
    ]
    oracled = sum(1 for n in QUERIES if n in ORACLES)
    ever_green = sum(1 for n in QUERIES if n in greens)
    lines += [
        f"Queries: **{len(QUERIES)}** registered, **{oracled}**"
        f" oracle-paired, **{ever_green}** ever driver-green.",
        "",
        "| # | query | defined at | oracle | driver-green rounds | in window |",
        "|---|---|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(QUERIES.items(), 1):
        module = fn.__module__.replace("kukur_spark.", "")
        line_no = fn.__code__.co_firstlineno
        rounds = greens.get(name)
        rounds_s = (
            "r" + ", r".join(str(r) for r in rounds) if rounds else "—"
        )
        lines.append(
            f"| {i} | `{name}` | `{module}.py:{line_no}` | "
            f"{'yes' if name in ORACLES else 'rows-only'} | {rounds_s} | "
            f"{'yes' if name in window else ''} |"
        )
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    print(generate())

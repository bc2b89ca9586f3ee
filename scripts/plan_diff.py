"""Plan-equivalence guard for query-construction fusion.

Normalizes an `.explain("formatted")` dump so two captures of the SAME
physical plan compare equal even though expression IDs, codegen ids,
plan ids, cache/view aliases and temp paths differ:

- `#NNN`   expression IDs            -> `#x`
- `[plan_id=NNN]`                    -> stripped
- `[codegen id : N]`                 -> stripped
- `_pyspark_<hex>` temp-view aliases -> `_pyspark_v`
- `MapPartitionsRDD[NNN]` RDD ids     -> `MapPartitionsRDD[n]` (numbered
  in session order, like expression IDs)
- `(NN)` operator numbers are KEPT (operator count/order is the point)

Usage:
  python scripts/plan_diff.py a.txt b.txt      # exit 0 iff equivalent
"""

from __future__ import annotations

import re
import sys


def normalize(text: str) -> str:
    text = re.sub(r"#\d+[L]?", "#x", text)
    text = re.sub(r"\[plan_id=\d+\]", "", text)
    text = re.sub(r"\[codegen id : \d+\]", "", text)
    text = re.sub(r"_pyspark_[0-9a-f]+", "_pyspark_v", text)
    # RDD ids of `createDataFrame` inputs; `Sample` seeds stay — a
    # changed seed is a real plan change
    text = re.sub(r"\b(\w*RDD)\[\d+\]", r"\1[n]", text)
    # persist_once cache names / InMemoryRelation serializer ids
    text = re.sub(r"StorageLevel\([^)]*\)", "StorageLevel(...)", text)
    # lambda variable names are display-only (positional in
    # lambdafunction): Column-API names (x_12, y_3) and SQL-parsed names
    # (x, acc) canonicalize to the same token
    text = re.sub(r"lambda [a-zA-Z]\w*", "lambda v", text)
    # subquery ids
    text = re.sub(r"Subquery subquery\d+", "Subquery subquery#", text)
    text = re.sub(r"scalar-subquery#x \[id=#?\d*\]", "scalar-subquery#x", text)
    return text


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    na = normalize(open(a).read())
    nb = normalize(open(b).read())
    if na == nb:
        print("PLANS EQUIVALENT")
        sys.exit(0)
    import difflib

    diff = list(
        difflib.unified_diff(
            na.splitlines(), nb.splitlines(), fromfile=a, tofile=b, lineterm=""
        )
    )
    for line in diff[:80]:
        print(line)
    print(f"\nPLANS DIFFER ({len(diff)} diff lines)")
    sys.exit(1)


if __name__ == "__main__":
    main()

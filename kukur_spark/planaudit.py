"""Logical-plan audit: detect the plan shapes that kill 100 TB jobs.

Three patterns turn a correct query into a driver-of-one-task bottleneck
at scale, and none of them is a correctness bug, so only a plan-level
audit catches them:

1. **Single-partition global windows** — ``row_number() OVER (ORDER BY
   …)`` with no PARTITION BY moves the entire input through one window
   task (Spark logs "No Partition Defined for Window operation").  The
   pattern is legitimate only when the window's input is provably
   k-bounded — e.g. the rank-of-survivors step after an
   ``orderBy().limit(k)`` (TakeOrderedAndProject), where at most k rows
   reach the single task.  :func:`unbounded_global_windows` counts only
   the dangerous form: empty partition spec AND no Limit on any path
   between the window and its scans.
2. **Cartesian / cross joins of two unbounded sides** — broadcasting a
   singleton aggregate (corpus stats) over a big table is fine; crossing
   two data-sized tables is O(n²) shuffle.  :func:`unbounded_cross_joins`
   counts cross-shaped joins where NEITHER side is row-bounded (a Limit,
   a global aggregate, or a literal relation).

All checks walk the *optimized logical plan* via py4j, so they run
without executing the query — cheap enough to audit every registered
query (see ``scripts/gen_plans.py`` and ``tests/test_plan_audit.py``).
"""

from __future__ import annotations

from typing import Dict, Iterator


def _iter_nodes(node) -> Iterator:
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(_children(n))


def _node_name(node) -> str:
    return node.getClass().getSimpleName()


_LIMIT_NODES = (
    "GlobalLimit",
    "LocalLimit",
    # physical forms — seen inside InMemoryRelation cached plans
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
    "TakeOrderedAndProjectExec",
)


def _children(node):
    """Children of a logical or physical node; an InMemoryRelation leaf
    continues into its cached *physical* plan so limits inside persisted
    legs stay visible to the boundedness walk."""
    name = _node_name(node)
    if name == "InMemoryRelation":
        return [node.cachedPlan()]
    if name == "AdaptiveSparkPlanExec":
        return [node.inputPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    children = node.children()
    return [children.apply(i) for i in range(children.size())]


def _limit_bounded(node) -> bool:
    """True when every path from ``node`` down to a leaf passes a Limit."""
    name = _node_name(node)
    if name in _LIMIT_NODES:
        return True
    if name in ("Generate", "GenerateExec", "Expand", "ExpandExec"):
        return False  # row-expanding: a limit below no longer bounds
    children = _children(node)
    if not children:
        return False
    return all(_limit_bounded(child) for child in children)


def _row_bounded(node) -> bool:
    """True when ``node`` produces a constant-bounded number of rows:
    a Limit, a grouping-free (singleton) aggregate, or a literal
    relation — the shapes that make a cross join safe."""
    name = _node_name(node)
    if name in _LIMIT_NODES or name in ("LocalRelation", "OneRowRelation"):
        return True
    if name == "Aggregate" and node.groupingExpressions().isEmpty():
        return True
    # physical singleton aggregates: hash, object-hash (collect_list and
    # friends force it — e.g. the lazy PQ codebook row), and sort-based
    if name in (
        "HashAggregateExec",
        "ObjectHashAggregateExec",
        "SortAggregateExec",
    ) and node.groupingExpressions().isEmpty():
        return True
    if name in ("Generate", "GenerateExec", "Expand", "ExpandExec"):
        return False  # row-expanding: bounded input ≠ bounded output
    children = _children(node)
    if not children:
        return False
    # joins/unions of bounded inputs stay bounded (worst case product of
    # two constants); every other multi-child shape inherits the rule
    return all(_row_bounded(child) for child in children)


def _pid_ordered(node) -> bool:
    """True when the window orders by the ``__pid`` helper column —
    ``operators.scale.distributed_row_number`` aggregates per Spark
    partition id before its offset window, so the window input is
    bounded by the partition COUNT (cluster config), not by data size.
    The ``__pid`` name is the documented convention for that shape."""
    spec = node.orderSpec()
    for i in range(spec.size()):
        child = spec.apply(i).child()
        if (
            child.getClass().getSimpleName() == "AttributeReference"
            and child.name() == "__pid"
        ):
            return True
    return False


def unbounded_global_windows(df) -> int:
    """Count Window nodes with an empty partition spec whose input is
    NOT limit-bounded — the corpus-through-one-task shape."""
    plan = df._jdf.queryExecution().optimizedPlan()
    count = 0
    for node in _iter_nodes(plan):
        if _node_name(node) not in ("Window", "WindowExec"):
            continue
        if not node.partitionSpec().isEmpty():
            continue
        if _pid_ordered(node):
            continue
        if not _limit_bounded(_children(node)[0]):
            count += 1
    return count


def unbounded_cross_joins(df) -> int:
    """Count cross-shaped joins (Cross type or no condition) where
    neither side is row-bounded."""
    plan = df._jdf.queryExecution().optimizedPlan()
    count = 0
    for node in _iter_nodes(plan):
        if _node_name(node) != "Join":
            continue
        cross = (
            node.joinType().toString() == "Cross"
            or not node.condition().isDefined()
        )
        if not cross:
            continue
        children = node.children()
        if not (
            _row_bounded(children.apply(0))
            or _row_bounded(children.apply(1))
        ):
            count += 1
    return count


def audit(df) -> Dict[str, int]:
    """All logical-plan killer counts for one DataFrame."""
    return {
        "unbounded_global_windows": unbounded_global_windows(df),
        "unbounded_cross_joins": unbounded_cross_joins(df),
    }

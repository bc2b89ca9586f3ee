"""Duplicate-group clustering: connected components over near-dup pairs.

The last step of a dedup pipeline: MinHash/Jaccard produce *pairs*; keeping
one canonical document per group needs the transitive closure — connected
components. Implemented as iterative label propagation on DataFrames:

    label(v) ← min(label(v), min(label(u)) for u adjacent to v)

repeated until fixpoint, with pointer-doubling path compression to
fixpoint after every propagation round: label chains halve per doubling
join, so total convergence is O(log diameter) joins — a 64-node path
converges in 2 outer rounds (~8 node-table joins), not 63 edge-joins
(pinned by ``tests/test_cluster.py::test_path_graph_converges_log``).
Each outer round is two shuffles (join + groupBy) on the edge list; the
doubling joins touch only the node-sized label table.  The loop stops
exactly at convergence by counting changed labels.  All operations are
DataFrame joins/aggregations, so the edge set can be arbitrarily large;
the one exception is deliberate and bounded — edge sets small enough to
be a broadcast side (≤ ``_CC_DRIVER_MAX_EDGES``) solve as a
driver-side union-find instead of paying shuffle rounds (see
``connected_components``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edge-count bound for the driver-side union-find fast path (0 disables).
# Below this, the whole edge set is smaller than a broadcast-join side —
# solving it where it sits beats paying O(log diameter) shuffle rounds.
_CC_DRIVER_MAX_EDGES = 131072


def _driver_union_find(rows) -> dict:
    """Min-label components of a small edge list, driver-side.

    Union-find with two-pass path compression keyed by node id; after
    unioning, each root's label becomes the minimum member id so the
    result matches the distributed loop's ``min reachable id`` contract
    exactly.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in rows:
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    min_of_root: dict = {}
    for node in parent:
        root = find(node)
        cur = min_of_root.get(root)
        if cur is None or node < cur:
            min_of_root[root] = node
    return {node: min_of_root[find(node)] for node in parent}


def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iterations: int = 20,
    stats: dict | None = None,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """Component label (minimum reachable id) for every node in ``pairs``.

    Returns ``id, component`` — one row per distinct node.

    Convergence: each outer round does one 1-hop min-label propagation
    over the edge list, then compresses the label *chains* to fixpoint
    by repeated pointer doubling on the (node-sized, edge-free) label
    table — chain length halves per doubling step, so a path graph of
    diameter d converges in 1 outer round + ⌈log₂ d⌉ doubling joins
    instead of d edge-joins.  Pass a dict as ``stats`` to receive
    ``{"rounds": outer rounds, "jumps": total pointer-doubling joins}``
    (used by the convergence regression test).

    **Adaptive small-graph path**: the edge set is materialized once
    (checkpoint below) before the loop, so its exact count costs one
    cached scan.  When it is at most ``driver_max_edges`` (default
    ``_CC_DRIVER_MAX_EDGES`` = 131072 — two longs per edge,
    ~2 MB, the same order as a broadcast-join side; 0 disables), the
    transitive closure runs as a driver-side union-find instead of
    O(log diameter) shuffle rounds — the AQE move of re-planning a
    small side at runtime, applied to iteration.  Labels are identical
    by construction (min reachable id is unique); equivalence is pinned
    by ``tests/test_cluster.py::test_driver_path_matches_distributed``.
    Post-LSH dedup graphs at corpus scale blow past the bound and take
    the distributed loop; ``stats`` records which path ran
    (``driver_path``).
    """
    if driver_max_edges is None:
        driver_max_edges = _CC_DRIVER_MAX_EDGES
    edges = (
        pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
        .unionByName(
            pairs.select(F.col(right).alias("src"), F.col(left).alias("dst"))
        )
        .distinct()
    )
    # materialize the edge set once: the loop below reads it 2x per
    # round, and the caller's edge lineage is often an expensive pair
    # join (blocked Jaccard, LSH verify) that must not re-execute every
    # iteration
    edges = edges.localCheckpoint(eager=True)
    if driver_max_edges > 0 and edges.count() <= driver_max_edges:
        labels_map = _driver_union_find(
            edges.select("src", "dst").collect()  # bounded by the gate
        )
        if stats is not None:
            stats["rounds"] = 0
            stats["jumps"] = 0
            stats["driver_path"] = True
        spark = pairs.sparkSession
        # schema follows the caller's id type so both paths are
        # drop-in interchangeable
        id_type = edges.schema["src"].dataType.simpleString()
        return spark.createDataFrame(
            sorted(labels_map.items()), f"id {id_type}, component {id_type}"
        )
    if stats is not None:
        stats["driver_path"] = False
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    rounds = 0
    jumps = 0
    for _ in range(max_iterations):
        rounds += 1
        # 1-hop propagation: candidate labels from every neighbor.  The
        # node's own (pre-round) label rides the union under a marker so
        # the convergence check is a flag scan of the checkpointed
        # result — never a second node-table join (each avoided join is
        # a full shuffle per iteration; measured ~2× wall on the
        # sf0.1 dedup_clusters loop).
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.id)
            .select(
                F.col("src").alias("id"),
                F.col("component"),
                F.lit(False).alias("_own"),
            )
        )
        propagated = (
            labels.select("id", "component", F.lit(True).alias("_own"))
            .unionByName(neighbor_labels)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_own"), F.col("component"))).alias(
                    "_old"
                ),
            )
        ).localCheckpoint(eager=True)
        changed = propagated.filter(
            F.col("component") < F.col("_old")
        ).count()
        propagated = propagated.drop("_old")
        if changed == 0:
            # the previous round left labels chain-compressed, so an
            # unmoved propagation IS the fixpoint
            labels = propagated
            break
        # pointer doubling to FIXPOINT (path compression): repeatedly
        # follow the label's label on the node-sized label table — the
        # chain a→b→c→…→root halves in length per join, so a chain of
        # length d flattens in ⌈log₂ d⌉ cheap (edge-free) joins.  Doing
        # this inside every outer round makes total convergence
        # O(log diameter) joins instead of O(diameter) edge-joins.
        while True:
            jumps += 1
            parents = propagated.select(
                F.col("id").alias("pid"), F.col("component").alias("pcomp")
            )
            compressed = (
                propagated.join(
                    parents, propagated.component == parents.pid, "left"
                )
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce("pcomp", F.col("component")),
                    ).alias("component"),
                    # strict improvement flag: least(...) < component
                    # iff the followed label is smaller
                    F.coalesce(
                        F.col("pcomp") < F.col("component"), F.lit(False)
                    ).alias("_moved"),
                )
            ).localCheckpoint(eager=True)
            moved = compressed.filter(F.col("_moved")).count()
            propagated = compressed.drop("_moved")
            if moved == 0:
                break
        labels = propagated
    if stats is not None:
        stats["rounds"] = rounds
        stats["jumps"] = jumps
    return labels


def dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    id_column: str = "doc_id",
) -> DataFrame:
    """Canonical-document assignment from near-dup pairs.

    Returns ``doc_id, canonical_id`` for every document: members of a
    duplicate group map to the group's minimum id; unpaired documents map
    to themselves.
    """
    components = connected_components(pairs)
    return (
        docs.select(F.col(id_column))
        .join(
            components.withColumnRenamed("id", id_column),
            on=id_column,
            how="left",
        )
        .select(
            id_column,
            F.coalesce("component", F.col(id_column)).alias("canonical_id"),
        )
    )

"""Connected-components dedup clustering."""

from kukur_spark.operators.cluster import connected_components, dedup_groups


def test_components_chain_and_islands(spark):
    # chain 1-2-3, pair 10-11, singleton edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    components = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert components == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_components_long_chain_converges(spark):
    # a 30-hop chain exercises multi-round propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    components = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert set(components.values()) == {0}


def test_dedup_groups_unpaired_docs_self_canonical(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 4), (4, 5)], "id_a long, id_b long")
    groups = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_groups(docs, pairs).collect()
    }
    assert groups == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1, 5: 1}


def test_path_graph_converges_log(spark):
    """Pointer doubling must flatten a 64-node path in O(log n) joins:
    2 outer rounds and ~8 node-table doubling joins, never ~diameter
    edge-join rounds (the 1-hop-only propagation failure mode)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "id_a long, id_b long"
    )
    stats = {}
    # driver_max_edges=0 pins the DISTRIBUTED loop — the default would
    # route a 63-edge graph to the driver union-find
    labels = connected_components(
        pairs, stats=stats, driver_max_edges=0
    ).toPandas()
    assert stats["driver_path"] is False
    assert set(labels.component) == {1}
    assert len(labels) == 64
    # log2(63) ≈ 6 doubling joins + fixpoint confirmations
    assert stats["rounds"] <= 3, stats
    assert stats["jumps"] <= 10, stats


def test_collapsed_groups_match_naive(spark):
    """Exact-dup collapse before banding must be result-identical to
    banding the full corpus — on a corpus WITH exact-dup families (every
    sf0.001 document replicated 3x with shifted ids, the regime that
    OOM-ed the pre-collapse form at the 100x probe)."""
    from pyspark.sql import functions as F

    from kukur_spark.operators.cluster import dedup_groups
    from kukur_spark.workloads import _collapsed_groups_from, _lsh_edges_from

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    replicated = docs
    for i in (1, 2):
        replicated = replicated.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * (max_id + 1)))
        )
    naive = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_groups(
            replicated, _lsh_edges_from(replicated)
        ).collect()
    }
    collapsed = {
        r["doc_id"]: r["canonical_id"]
        for r in _collapsed_groups_from(replicated).collect()
    }
    assert collapsed == naive
    assert len(collapsed) == 3 * docs.count()


def test_driver_path_matches_distributed(spark):
    """The adaptive small-graph union-find must return exactly the
    distributed loop's labels (schema included) on an adversarial mix:
    a long chain, a clique, islands, and singleton pairs."""
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(40)]                 # chain
    edges += [(100 + a, 100 + b) for a in range(8) for b in range(a)]
    edges += [(200, 201), (300, 301)]                        # islands
    edges += [(rng.randrange(400, 440), rng.randrange(400, 440))
              for _ in range(30)]                            # random blob
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast_stats, slow_stats = {}, {}
    fast = connected_components(pairs, stats=fast_stats)
    slow = connected_components(
        pairs, stats=slow_stats, driver_max_edges=0
    )
    assert fast_stats["driver_path"] is True
    assert slow_stats["driver_path"] is False
    assert fast.schema == slow.schema
    got_fast = {(r.id, r.component) for r in fast.collect()}
    got_slow = {(r.id, r.component) for r in slow.collect()}
    assert got_fast == got_slow


def test_driver_path_respects_disable_env(spark, monkeypatch):
    """_CC_DRIVER_MAX_EDGES = 0 (module default override) must
    force the distributed loop even for tiny graphs."""
    from kukur_spark.operators import cluster as C

    monkeypatch.setattr(C, "_CC_DRIVER_MAX_EDGES", 0)
    stats = {}
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = {
        r.id: r.component
        for r in C.connected_components(pairs, stats=stats).collect()
    }
    assert stats["driver_path"] is False
    assert out == {1: 1, 2: 1}


def test_driver_union_find_property(spark):
    """Hypothesis sweep: on random small graphs the driver union-find,
    the distributed loop, and a brute-force BFS model all agree."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    edge_strategy = st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1,
        max_size=40,
    )

    @given(edges=edge_strategy)
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(edges):
        # self-loops allowed: a node paired with itself is a component
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        fast = {
            r.id: r.component
            for r in connected_components(pairs).collect()
        }
        # brute-force model: BFS components, min id as label
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        seen = set()
        for start in adj:
            if start in seen:
                continue
            comp = set()
            queue = [start]
            while queue:
                n = queue.pop()
                if n in comp:
                    continue
                comp.add(n)
                queue.extend(adj[n] - comp)
            seen |= comp
            label = min(comp)
            for n in comp:
                want[n] = label
        assert fast == want
        # the distributed loop agrees on a sample of cases (it is slow,
        # so only re-check graphs with an interesting shape)
        if len(edges) >= 3 and len(want) >= 4:
            slow = {
                r.id: r.component
                for r in connected_components(
                    pairs, driver_max_edges=0
                ).collect()
            }
            assert slow == want

    check()


def test_empty_pairs_both_paths(spark):
    """No near-dup pairs: components is empty and every doc is
    self-canonical, on both the driver and distributed paths."""
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).collect() == []
    assert connected_components(empty, driver_max_edges=0).collect() == []
    docs = spark.createDataFrame([(i,) for i in range(3)], "doc_id long")
    groups = {
        r.doc_id: r.canonical_id for r in dedup_groups(docs, empty).collect()
    }
    assert groups == {0: 0, 1: 1, 2: 2}

"""Lockstep + property tests for the alternating large-star /
small-star connected-components operator (operators/components.py) —
the documented 100 TB form of the min-label fixpoint behind
dedup_components. The operator must agree with (a) a driver-side
union-find on random graphs across shapes that stress it differently
(chains = max diameter, stars = max fan-out, cliques = max edge
count), and (b) the shipped label-propagation operator on the real
near-dup pair graph."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.operators.components import (
    connected_components_star,
)

SF_DIR = "/root/testdata/sf0.001"


def _union_find(edges):
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-label per node
    return {x: find(x) for x in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r.id: r.lbl
        for r in connected_components_star(df).collect()
    }
    want = _union_find(edges)
    assert got == want


def test_star_chain_long_diameter(spark):
    # a 60-node chain: diameter 59 — label propagation's worst case,
    # the star algorithm must still converge inside its round bound
    _check(spark, [(i, i + 1) for i in range(60)])


def test_star_star_high_fanout(spark):
    _check(spark, [(0, i) for i in range(1, 50)])


def test_star_mixed_random_components(spark):
    rng = random.Random(7)
    edges = []
    # 10 random components over disjoint id blocks, varied shapes
    for c in range(10):
        base = c * 1000
        n = rng.randint(2, 40)
        ids = [base + i for i in range(n)]
        # random spanning tree + extra chords
        for i in range(1, n):
            edges.append((ids[i], ids[rng.randrange(i)]))
        for _ in range(rng.randrange(n)):
            a, b = rng.sample(ids, 2)
            edges.append((a, b))
    rng.shuffle(edges)
    _check(spark, edges)


def test_star_self_loops_and_duplicates_ignored(spark):
    _check(
        spark,
        [(1, 1), (1, 2), (2, 1), (1, 2), (3, 3), (3, 4), (4, 3)],
    )


def test_star_matches_label_propagation_on_real_pair_graph(spark):
    """The shipped star-based near_dup_component_labels must agree
    with the independent min-label-propagation reference on the real
    Jaccard pair graph (the r10 swap's lockstep guarantee)."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.queries.text.dedup import (
        label_propagation_component_labels,
        near_dup_component_labels,
    )

    registry.load_all()
    lp = {
        r.id: r.lbl
        for r in label_propagation_component_labels(
            spark, SF_DIR
        ).collect()
    }
    star = {
        r.id: r.lbl
        for r in near_dup_component_labels(spark, SF_DIR).collect()
    }
    assert star == lp


def test_real_graph_converges_well_under_round_bound(spark):
    """Convergence observability on the REAL pair graphs (r11 verdict
    item 7): dedup_keep_best shares the star operator with the
    stress-tier dedup_components, and until now only the stress JSON
    exposed the realized round count. Alternating star contraction is
    O(log^2 n) — the real near-dup graphs converge in 2-3 rounds; a
    future pair-graph change inflating that toward the 64-round bound
    must fail a test, not just move a bench number."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.operators import components

    registry.load_all()
    for name in ("dedup_components", "dedup_keep_best"):
        components.LAST_RUN_ROUNDS = None
        registry.QUERIES[name](spark, SF_DIR).count()
        assert components.LAST_RUN_ROUNDS is not None, name
        assert components.LAST_RUN_ROUNDS <= 8, (
            f"{name}: star components took "
            f"{components.LAST_RUN_ROUNDS} rounds (bound 8) — "
            f"convergence regressed"
        )


def test_star_self_loop_only_node_kept(spark):
    # A node whose ONLY edges are self-loops must still get an
    # (id, id) output row (r10 advice): the node universe is derived
    # from the raw columns before the u != v canonicalization filter.
    _check(spark, [(1, 2), (9, 9)])


def test_star_records_realized_round_count(spark):
    from hdsp_hive_release_src_spark.operators import components

    _check(spark, [(i, i + 1) for i in range(20)])
    assert isinstance(components.LAST_RUN_ROUNDS, int)
    assert 1 <= components.LAST_RUN_ROUNDS <= components._MAX_ROUNDS


def test_star_raises_on_round_exhaustion(spark, monkeypatch):
    # Non-convergence must be a hard error, never silently-wrong
    # labels (r10 advice). A 60-node chain needs ~log2(60)+k rounds;
    # cap at 1 and the fixpoint probe cannot stabilize.
    from hdsp_hive_release_src_spark.operators import components

    monkeypatch.setattr(components, "_MAX_ROUNDS", 1)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["src", "dst"]
    )
    import pytest

    with pytest.raises(RuntimeError, match="no fixpoint"):
        components.connected_components_star(df).collect()


def test_star_forest_input_converges_in_one_round(spark):
    """r16 early star-forest detection: the signature probe needed a
    second full large+small-star round to see two equal snapshots; an
    input that is ALREADY a star forest must now finish after one
    round (the round's output equals its input, and the
    aggregation-only probe — out-degree 1 + source/target
    disjointness — certifies the fixpoint without the confirmation
    round). Labels must be the exact union-find answer."""
    from hdsp_hive_release_src_spark.operators import components

    components.LAST_RUN_ROUNDS = None
    # two disjoint stars, roots already the component minima
    _check(spark, [(5, 1), (7, 1), (9, 1), (20, 10), (30, 10)])
    assert components.LAST_RUN_ROUNDS == 1


def test_star_probe_never_fires_early_on_a_chain(spark):
    """A path graph passes through intermediate states where some
    nodes have out-degree 1 but chains remain (U ∩ V nonempty) — the
    probe must keep iterating until the true star forest and still
    return exact labels."""
    from hdsp_hive_release_src_spark.operators import components

    components.LAST_RUN_ROUNDS = None
    _check(spark, [(i, i + 1) for i in range(16)])
    assert components.LAST_RUN_ROUNDS >= 2


def test_star_empty_and_selfloop_edges_one_round(spark):
    """Self-loop-only input canonicalizes to an EMPTY edge list — the
    empty set is trivially a star forest, so the probe ends the loop
    after one round and every node labels itself."""
    from hdsp_hive_release_src_spark.operators import components

    components.LAST_RUN_ROUNDS = None
    df = spark.createDataFrame([(4, 4), (9, 9)], ["src", "dst"])
    got = {
        r.id: r.lbl for r in connected_components_star(df).collect()
    }
    assert got == {4: 4, 9: 9}
    assert components.LAST_RUN_ROUNDS == 1

"""Pin the r13 subtree-re-execution discipline (the subtree predicate
of tools/run_gates.py).

The full-registry sweep runs as a round-start gate; this test keeps the
defect class from silently returning between rounds by re-checking the
queries that were the WORST offenders before the r13 re-plans:

- shortest_path_bfs / topo_sort_layers: the two-consumer loop doubled
  the plan per round (round-1 subtree appeared 8x).
- triangle_clustering_coeff: the 3-way union re-inlined the O(m^1.5)
  wedge subtree.
- pagerank_trade_graph / hits_hub_authority: per-iteration re-execution
  of the contribution / iteration chains.
- ks_two_sample / association_rules_lift / kmv_set_operations: 3-4x
  re-aggregation fan-outs.

Any flagged subtree in these plans is a regression of a fixed defect,
not a new finding.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import run_gates  # noqa: E402
from run_gates import subtree_hits  # noqa: E402

WORST_OFFENDERS = [
    "shortest_path_bfs",
    "topo_sort_layers",
    "triangle_clustering_coeff",
    "pagerank_trade_graph",
    "hits_hub_authority",
    "ks_two_sample",
    "association_rules_lift",
    "kmv_set_operations",
    "source_centroid_cosine",
    "cosupply_bipartite_projection",
]


@pytest.mark.parametrize("name", WORST_OFFENDERS)
def test_no_repeated_expensive_subtrees(spark, sf_dir, name):
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    hits = subtree_hits(explain_str(registry.QUERIES[name](spark, sf_dir)))
    assert hits == [], (
        f"{name} re-executes a join/aggregate subtree again: {hits} — "
        "a fixed r13 defect regressed (see tools/run_gates.py)"
    )


def test_plan_pass_ends_at_a_boundary(spark, sf_dir):
    """The gate's plan pass builds queries without running them, and
    building runs their eager checkpoints; the pass must end at a
    query boundary so the execution pass starts with no persistent
    RDD at any storage level (pagerank_trade_graph localCheckpoints
    every round)."""
    run_gates.plan_pass(spark, sf_dir, ["pagerank_trade_graph"])
    assert run_gates.retained_rdd_count(spark) == 0


def test_cache_read_repeats_are_opaque_but_joins_above_still_flag():
    """r17: the cache-build plan EXPLAIN prints under every
    InMemoryTableScan executes once, so its operators must not leak
    into ancestor fingerprints (a repeated cheap cache-read chain
    false-flagged as 'expensive' when the printed build plan held a
    join — first hit by the r17 persist-tier materializations). A
    repeated join ABOVE the cache leaves must still flag."""

    # two identical Sort->Exchange chains over a cache whose printed
    # build plan contains a join: must NOT flag
    benign = """== Physical Plan ==
Union (9)
:- Sort (4)
:  +- Exchange (3)
:     +- InMemoryTableScan (1)
:           +- InMemoryRelation (2)
:                 +- SortMergeJoin Inner (8)
:                    :- Scan parquet (6)
:                    +- Scan parquet (7)
+- Sort (4)
   +- Exchange (3)
      +- InMemoryTableScan (1)
            +- InMemoryRelation (2)
                  +- SortMergeJoin Inner (8)
                     :- Scan parquet (6)
                     +- Scan parquet (7)

"""
    assert subtree_hits(benign) == []
    # two identical joins OF cache reads: the join sits above the
    # truncation point and must flag
    guilty = """== Physical Plan ==
Union (9)
:- HashAggregate (5)
:  +- SortMergeJoin Inner (4)
:     :- InMemoryTableScan (1)
:     +- InMemoryTableScan (2)
+- HashAggregate (5)
   +- SortMergeJoin Inner (4)
      :- InMemoryTableScan (1)
      +- InMemoryTableScan (2)

"""
    hits = subtree_hits(guilty)
    assert hits and hits[0]["occurrences"] == 2


def test_reads_of_different_caches_are_not_one_subtree():
    """Two structurally identical expensive chains over DIFFERENT caches
    are two computations, not one re-executed twice: the opaque cache
    leaf keeps its own detail in the fingerprint."""
    plan = """== Physical Plan ==
Union (9)
:- HashAggregate (5)
:  +- SortMergeJoin Inner (4)
:     :- InMemoryTableScan (1)
:     +- InMemoryTableScan (2)
+- HashAggregate (8)
   +- SortMergeJoin Inner (7)
      :- InMemoryTableScan (3)
      +- InMemoryTableScan (6)

(1) InMemoryTableScan
Output [1]: [a#1L]

(2) InMemoryTableScan
Output [1]: [b#2L]

(3) InMemoryTableScan
Output [1]: [c#3L]

(6) InMemoryTableScan
Output [1]: [d#4L]

"""
    assert subtree_hits(plan) == []

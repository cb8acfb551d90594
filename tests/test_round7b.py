"""Plan + semantics assertions for the later round-7 operators —
the scale-posture checks parity can't see (tests/test_scale_patterns
style): the triangle join must not degenerate into a cartesian
product, geo assignment must stay map-side (no join at all), and the
oriented triangle count must equal the naive count on a known
subgraph.
"""

from __future__ import annotations


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_triangle_plan_no_cartesian(spark, sf_dir):
    from hdsp_hive_release_src_spark.queries.graph import (
        triangle_clustering_coeff,
    )

    plan = _plan(triangle_clustering_coeff(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # r13: the wedge-close is an equi semi-join against the union of
    # both edge orientations — every join in the plan must hash (or
    # sort-merge); a BroadcastNestedLoopJoin means the OR-of-pairs
    # predicate regressed (O(wedges × edges) probe work at scale)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # the wedge-enumeration self-join must appear exactly once: the
    # triangle corners are exploded in one pass, not unioned from
    # three selects that each inline the O(m^1.5) subtree. The wedge
    # join is the only inner join with a non-equi (v < v) extra
    # condition, so its count in the plan is the re-execution count.
    import re

    wedge = re.findall(r"Join condition: \(v#\d+L? < v#\d+L?\)", plan)
    assert len(wedge) == 1, wedge


def test_triangle_matches_naive(spark, sf_dir):
    from hdsp_hive_release_src_spark.queries.graph import (
        triangle_clustering_coeff,
    )

    rows = triangle_clustering_coeff(spark, sf_dir).collect()
    assert rows, "projection should have edges at smoke scale"
    total = sum(r.n_triangles for r in rows)
    assert total % 3 == 0, "each triangle must appear at exactly 3 nodes"
    assert total > 0
    for r in rows:
        assert 0 <= r.clustering_permille <= 1000


def test_geo_assignment_is_map_side(spark, sf_dir):
    from hdsp_hive_release_src_spark.queries.vectors import (
        nearest_hub_assignment,
    )

    plan = _plan(nearest_hub_assignment(spark, sf_dir))
    # literal hub dimension -> argmin over an array of structs; the
    # ONLY joins allowed would be broadcast; a shuffle join here means
    # the hub table accidentally became a real relation
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_geo_rings_cover_all_customers(spark, sf_dir):
    from hdsp_hive_release_src_spark.queries.vectors import geo_haversine_rings

    from hdsp_hive_release_src_spark.catalog import Catalog

    rows = geo_haversine_rings(spark, sf_dir).collect()
    n = Catalog(spark, sf_dir).customer.count()
    assert sum(r.n_customers for r in rows) == n
    for r in rows:
        assert 0 <= r.ring_min_km <= r.ring_max_km


def test_rate_source_deterministic(spark, sf_dir):
    from hdsp_hive_release_src_spark.queries.streaming import (
        _RATE_ROWS,
        stream_rate_source,
    )

    rows = stream_rate_source(spark, sf_dir).collect()
    assert sum(r.n for r in rows) == _RATE_ROWS
    assert sum(r.value_sum for r in rows) == _RATE_ROWS * (_RATE_ROWS - 1) // 2

"""Plan-shape assertions for the round-9 tenth-thirteenth waves —
the scale contracts the docstrings claim, checked against the actual
physical plans: broadcast joins where one side is bounded, column
pruning at the parquet scan, no unexpected cartesian products, and
day-grain-only unpartitioned windows."""

from __future__ import annotations

import pytest

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ra_link_prediction_broadcasts_degree_tables(spark):
    """The supplier-degree and customer-degree tables are bounded by
    the subgraph's node count — both joins must broadcast; the pair
    generation itself must stay keyed on the shared supplier (a hash
    or sort-merge join, never a cartesian)."""
    plan = _plan(registry.QUERIES["ra_link_prediction"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmv_set_operations_never_joins_full_id_sets(spark):
    """The whole point of the KMV algebra: the only joins are the
    k-row synopsis against the (broadcast) id sets — no sort-merge
    join of the two full-width id sets anywhere."""
    plan = _plan(registry.QUERIES["kmv_set_operations"](spark, SF))
    assert "SortMergeJoin" not in plan


def test_calibration_scan_prunes_columns(spark):
    plan = _plan(registry.QUERIES["calibration_curve_bins"](spark, SF))
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "o_orderkey" in scan and "o_orderstatus" in scan
    assert "o_comment" not in scan and "o_totalprice" not in scan


def test_cohort_ltv_window_is_partitioned_by_cohort(spark):
    plan = _plan(registry.QUERIES["cohort_ltv_matrix"](spark, SF))
    window_lines = [
        ln for ln in plan.splitlines() if "Window [" in ln
    ]
    assert window_lines
    for ln in window_lines:
        # partitioned+ordered Window prints [functions], [partition],
        # [order]; the r13 per-user MIN is partitioned but UNordered —
        # [functions], [partition]. The defect guarded against is a
        # PARTITIONLESS window ([functions], [order]): two groups
        # whose trailing group is a sort spec.
        n = ln.count("], [")
        assert n >= 1, ln
        if n == 1:
            trailing = ln.rsplit("], [", 1)[1]
            assert "ASC" not in trailing and "DESC" not in trailing, (
                f"partitionless ordered window: {ln}"
            )


def test_markov_two_step_matrix_joins_are_bounded(spark):
    """The matrix-square self-join runs on the event_type² cell table
    — broadcastable; no cartesian."""
    plan = _plan(registry.QUERIES["markov_two_step"](spark, SF))
    assert "CartesianProduct" not in plan


def test_vwap_scan_prunes_and_pushes_date_filter(spark):
    plan = _plan(registry.QUERIES["vwap_rolling"](spark, SF))
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_shipdate" in scan and "l_extendedprice" in scan
    assert "l_comment" not in scan and "l_orderkey" not in scan
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_km_survival_broadcasts_corpus_end(spark):
    """The 1-row corpus-end scalar must broadcast onto the per-user
    duration table."""
    plan = _plan(registry.QUERIES["km_survival_hazard"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in (
        plan
    )
    assert "CartesianProduct" not in plan


def test_rake_windows_are_doc_partitioned(spark):
    """Islands and phrase-length windows must partition by doc (and
    doc, grp) — never a global token window."""
    plan = _plan(registry.QUERIES["rake_keyword_phrases"](spark, SF))
    window_lines = [
        ln for ln in plan.splitlines() if "Window [" in ln
    ]
    assert window_lines
    for ln in window_lines:
        # every window spec must lead with the doc_id partition column
        # (the orderless plen count prints only two bracket groups, so
        # the bracket-count idiom can't be used here)
        assert "windowspecdefinition(doc_id" in ln, ln


def test_abc_revenue_scan_prunes_columns(spark):
    """r13: the per-part rollup is checkpointed (one lineitem scan at
    build, runtime-pinned), so the final plan's leaves are the
    2-column (l_partkey, rev) checkpoint — assert the materialization
    stays that narrow and no lazy re-scan survived."""
    plan = _plan(registry.QUERIES["abc_pareto_class"](spark, SF))
    rdd_lines = [ln for ln in plan.splitlines() if "ExistingRDD" in ln]
    assert rdd_lines
    for ln in rdd_lines:
        assert "l_comment" not in ln and "l_shipdate" not in ln
    assert "ReadSchema" not in plan

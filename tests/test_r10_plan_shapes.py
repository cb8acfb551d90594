"""Plan-shape assertions for the round-10 re-plans: the value-level
lockstep tests prove the swaps exact; these prove the SHAPE claims —
no partitionless row_number over an unbounded dimension, no window or
cartesian product inside the star-components fixpoint."""

from __future__ import annotations

from hdsp_hive_release_src_spark import registry
from hdsp_hive_release_src_spark.plans import explain_str

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    registry.load_all()
    return explain_str(registry.QUERIES[name](spark, SF))


def _row_number_windows_are_partitioned(plan: str) -> None:
    # a partitioned Window line carries three bracket groups
    # (functions, partition spec, order spec); a global one only two
    for ln in plan.splitlines():
        if "Window [" in ln and "row_number()" in ln:
            assert ln.count("], [") >= 2, f"global row_number: {ln}"


def test_gini_has_no_global_row_number_window(spark):
    plan = _plan(spark, "gini_concentration_index")
    _row_number_windows_are_partitioned(plan)
    assert "CartesianProduct" not in plan


def test_lorenz_has_no_global_row_number_window(spark):
    # the only permitted partitionless window is the 10-row decile
    # cumulative sum; the per-customer rank must be partitioned
    plan = _plan(spark, "lorenz_curve_deciles")
    _row_number_windows_are_partitioned(plan)


def test_star_components_plan_is_join_free_and_partitioned(spark):
    """Each star round (r16 rewrite) is PARTITIONED window-mins +
    distincts only: a join appearing here means the operator regressed
    to the groupBy+join-back form (one extra exchange per star op), a
    partitionless Window means it regressed to a global sort, and a
    cartesian product means an all-pairs formulation."""
    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark.operators.components import (
        _canon,
        _large_star,
        _small_star,
    )

    src = (
        spark.range(100)
        .select(
            F.col("id").alias("src"),
            ((F.col("id") + 1) % 100).alias("dst"),
        )
    )
    # simple mode: Window renders one line with [functions], [part spec]
    round_plan = explain_str(
        _small_star(_large_star(_canon(src, "src", "dst"))), "simple"
    )
    assert "Join" not in round_plan
    assert "CartesianProduct" not in round_plan
    window_lines = [
        ln for ln in round_plan.splitlines() if "Window [" in ln
    ]
    assert window_lines, "star round lost its window-min form"
    for ln in window_lines:
        # a partitioned no-order window min renders two bracket groups
        # (functions, partition spec); a global window only one
        assert "], [" in ln, f"partitionless window: {ln}"


def test_kmv_set_operations_matches_python_replay(spark):
    """KMV synopsis algebra replayed in Python: the affine hash is
    int64-exact and engine-portable, so every synopsis row, estimate,
    Jaccard, and intersection is recomputed from raw parquet and
    pinned to the digit."""
    import pyarrow.parquet as pq

    from hdsp_hive_release_src_spark.functions.hashing import CMS_P
    from hdsp_hive_release_src_spark.queries.stats.sketches import (
        KMV2_A,
        KMV2_B,
        KMV2_K,
    )

    registry.load_all()
    row = registry.QUERIES["kmv_set_operations"](spark, SF).collect()[0]
    ev = pq.read_table(f"{SF}/events.parquet").to_pandas()

    def ids(et):
        return set(
            int(u) for u in ev.loc[ev.event_type == et, "user_id"]
        )

    def syn(s):
        h = sorted(((KMV2_A * u + KMV2_B) % CMS_P, u) for u in s)
        return h[:KMV2_K]

    def est(s):
        return (KMV2_K - 1) * CMS_P // max(h for h, _u in syn(s))

    a, b = ids("purchase"), ids("click")
    u_syn = syn(a | b)
    inter = sum(1 for _h, uid in u_syn if uid in a and uid in b)
    assert row.k == KMV2_K
    assert row.est_a == est(a)
    assert row.est_b == est(b)
    assert row.est_union == est(a | b)
    assert row.inter_sample == inter
    assert row.jaccard_permille == inter * 1000 // KMV2_K
    assert row.est_intersection == inter * est(a | b) // KMV2_K

"""Round-9 tenth-wave properties: calibration mass/bounds, LTV cohort
structure, k-core monotone peel + convergence flag, KMV set-ops
Python replay lockstep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_calibration_bins_cover_all_orders(spark):
    rows = registry.QUERIES["calibration_curve_bins"](
        spark, SF
    ).collect()
    assert rows
    total = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert sum(r.n for r in rows) == total
    briers = {r.brier_micro for r in rows}
    assert len(briers) == 1  # global scalar repeated per bin
    assert 0 <= briers.pop() <= 1_000_000
    for r in rows:
        assert 0 <= r.pred_permille <= 1000
        assert 0 <= r.obs_permille <= 1000


def test_cohort_ltv_structure(spark):
    rows = registry.QUERIES["cohort_ltv_matrix"](spark, SF).collect()
    assert rows
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_week_start, []).append(r)
    for cohort, rs in by_cohort.items():
        offs = sorted(x.week_offset for x in rs)
        assert offs[0] == 0  # the defining week always has revenue
        users = {x.users for x in rs}
        assert len(users) == 1 and users.pop() > 0
        for x in rs:
            assert x.ltv_cents_per_user == x.cum_cents // x.users


def test_kcore_peel_monotone_and_converged_flag(spark):
    from hdsp_hive_release_src_spark.queries.graph import KCORE_ROUNDS

    rows = sorted(
        registry.QUERIES["kcore_peeling_profile"](spark, SF).collect(),
        key=lambda r: r.round,
    )
    assert len(rows) == KCORE_ROUNDS
    for a, b in zip(rows, rows[1:]):
        assert b.nodes <= a.nodes  # peeling only shrinks
        assert b.live_edges <= a.live_edges
    for r in rows:
        assert r.live_edges % 2 == 0  # undirected-as-two-directed
    flags = {r.converged for r in rows}
    assert len(flags) == 1
    assert flags.pop() == (rows[-2].nodes == rows[-1].nodes)


def test_kmv_set_ops_match_python_replay(spark):
    """Replay the whole synopsis algebra exactly in Python on the
    sf0.001 id sets and compare every output field."""
    from hdsp_hive_release_src_spark.functions.hashing import CMS_P
    from hdsp_hive_release_src_spark.queries.stats.sketches import (
        KMV2_A,
        KMV2_B,
        KMV2_K,
    )

    row = registry.QUERIES["kmv_set_operations"](spark, SF).collect()[0]
    ev = spark.read.parquet(f"{SF}/events.parquet")
    a = {
        r.user_id
        for r in ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .collect()
    }
    b = {
        r.user_id
        for r in ev.where(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .collect()
    }

    def syn(ids):
        hashed = sorted(
            ((KMV2_A * u + KMV2_B) % CMS_P, u) for u in ids
        )
        return hashed[:KMV2_K]

    def est(ids):
        return (KMV2_K - 1) * CMS_P // syn(ids)[-1][0]

    assert row.est_a == est(a)
    assert row.est_b == est(b)
    assert row.est_union == est(a | b)
    inter = sum(1 for _, u in syn(a | b) if u in a and u in b)
    assert row.inter_sample == inter
    assert row.jaccard_permille == inter * 1000 // KMV2_K
    assert row.est_intersection == inter * row.est_union // KMV2_K

"""Round-9 twentieth-wave properties: theta algebra identities, KLL
exact-mode rank rule vs Python replay, mergeable top-k = plain
groupBy, bitmap set identities."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def _user_sets(spark, *types):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    return [
        {
            r.user_id
            for r in ev.where(F.col("event_type") == t)
            .select("user_id")
            .distinct()
            .collect()
        }
        for t in types
    ]


def test_theta_set_algebra_is_exact_here(spark):
    row = registry.QUERIES["theta_sketch_set_ops"](
        spark, SF
    ).collect()[0]
    a, b = _user_sets(spark, "purchase", "click")
    assert row.est_purchasers == len(a)
    assert row.est_clickers == len(b)
    assert row.est_union == len(a | b)
    assert row.est_intersection == len(a & b)
    assert row.est_difference == len(a - b)
    # inclusion-exclusion holds on the estimates themselves
    assert (
        row.est_union
        == row.est_purchasers + row.est_clickers - row.est_intersection
    )


def test_kll_exact_mode_matches_inclusive_rank_rule(spark):
    from hdsp_hive_release_src_spark.queries.stats.sketches import KLL_MOD

    rows = registry.QUERIES["kll_quantile_sketch_contract"](
        spark, SF
    ).collect()
    assert rows
    sample = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .where(F.col("o_orderkey") % KLL_MOD == 0)
        .select(
            F.col("o_orderpriority").alias("p"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .collect()
    )
    by_p: dict = {}
    for r in sample:
        by_p.setdefault(r.p, []).append(r.c)
    assert len(rows) == len(by_p)
    for r in rows:
        vs = sorted(by_p[r.priority])
        n = len(vs)
        assert r.n == n

        def pick(q):
            return vs[max(0, math.ceil(q * n) - 1)]

        assert r.min_cents == vs[0]
        assert r.q1_cents == pick(0.25)
        assert r.med_cents == pick(0.5)
        assert r.q3_cents == pick(0.75)
        assert r.max_cents == vs[-1]


def test_topk_merge_equals_plain_groupby(spark):
    rows = registry.QUERIES["approx_top_k_merge_contract"](
        spark, SF
    ).collect()
    truth = sorted(
        (
            (r.cnt, r.lang)
            for r in spark.read.parquet(f"{SF}/documents.parquet")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .collect()
        ),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    assert [(r.cnt, r.item) for r in rows] == truth


def test_bitmap_algebra_set_identities(spark):
    row = registry.QUERIES["bitmap_set_algebra"](spark, SF).collect()[0]
    a, b = _user_sets(spark, "purchase", "view")
    assert row.n_purchasers == len(a)
    assert row.n_viewers == len(b)
    assert row.n_both == len(a & b)
    assert row.n_either == len(a | b)
    assert row.n_either == row.n_purchasers + row.n_viewers - row.n_both

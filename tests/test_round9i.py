"""Round-9 ninth-wave properties: AUC bounds + no-global-window plan,
Kendall pair-count identity, clamped-inventory brute-force lockstep,
funnel regex brute-force lockstep, co-supply cap/bounds, NATURAL JOIN
column dedup, readability band containment, rule-metric bounds."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_roc_auc_bounds_and_no_global_window(spark):
    from hdsp_hive_release_src_spark.plans import explain_str

    df = registry.QUERIES["roc_auc_exact"](spark, SF)
    plan = explain_str(df, "simple")
    # every Window node must carry a partition spec (3 bracket
    # groups); the only SinglePartition allowed is the final scalar
    # aggregate, never a window input
    for ln in plan.splitlines():
        if "Window [" in ln:
            assert ln.count("], [") >= 2, ln
    row = df.collect()[0]
    assert 0 <= row.auc_permille <= 1000
    total = (
        spark.read.parquet(f"{SF}/orders.parquet").count()
    )
    assert row.n_pos + row.n_neg == total


def test_kendall_pair_count_identity(spark):
    """C + D == n0 − tie_x − tie_y + tie_both: every unordered pair
    is concordant, discordant, or tied in at least one variable; the
    inclusion–exclusion of the tie terms must close exactly."""
    row = registry.QUERIES["kendall_tau_b_grid"](spark, SF).collect()[0]
    o = spark.read.parquet(f"{SF}/orders.parquet")
    g = (
        o.select(
            F.substring("o_orderpriority", 1, 1)
            .cast("int")
            .alias("x"),
            F.month("o_orderdate").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tie_both = g.agg(
        F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("t")
    ).collect()[0].t
    assert (
        row.c_pairs + row.d_pairs
        == row.n0 - row.tie_x - row.tie_y + tie_both
    )
    assert abs(row.tau_b) <= 1.0


def test_clamped_inventory_matches_sequential_recursion(spark):
    """The window identity must equal the literal per-row recursion
    S_t = max(0, S_{t-1} + delta) replayed in Python."""
    got = {
        r.part: r
        for r in registry.QUERIES["clamped_running_inventory"](
            spark, SF
        ).collect()
    }
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_partkey") <= 100)
        .select(
            "l_partkey",
            "l_returnflag",
            "l_quantity",
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
        )
        .collect()
    )
    parts: dict = {}
    for r in li:
        parts.setdefault(r.l_partkey, []).append(r)
    assert parts, "filter must keep some parts at sf0.001"
    for part, rows in parts.items():
        rows.sort(
            key=lambda r: (r.l_shipdate, r.l_orderkey, r.l_linenumber)
        )
        s, peak, zeros = 0, 0, 0
        for r in rows:
            d = int(r.l_quantity)
            s = max(0, s + (d if r.l_returnflag == "R" else -d))
            peak = max(peak, s)
            zeros += s == 0
        assert got[part].movements == len(rows)
        assert got[part].peak_balance == peak
        assert got[part].stockout_points == zeros


def test_funnel_counts_match_python_regex(spark):
    """Replay both counting rules with Python's regex engine on the
    per-user strings and compare the aggregated distribution."""
    got = {
        (r.strict_funnels, r.skip_funnels): r.users
        for r in registry.QUERIES["funnel_pattern_match"](
            spark, SF
        ).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    dist: dict = {}
    for rows in by_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        s = "".join(r.event_type[0] for r in rows)
        strict = s.count("vcp")
        skip = len(re.findall(r"v[^p]*c[^p]*p", s))
        key = (strict, skip)
        dist[key] = dist.get(key, 0) + 1
    assert got == dist


def test_cosupply_capped_and_bounded(spark):
    from hdsp_hive_release_src_spark.queries.graph import COSUPPLY_MAX_DEGREE

    rows = registry.QUERIES["cosupply_bipartite_projection"](
        spark, SF
    ).collect()
    assert rows
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    n_parts = li.select("l_partkey").distinct().count()
    for r in rows:
        assert r.s1 < r.s2
        assert 3 <= r.shared_parts <= n_parts
    # the cap must have headroom at test scale (nothing excluded)
    max_deg = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .groupBy("l_partkey")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_deg <= COSUPPLY_MAX_DEGREE


def test_natural_join_emits_shared_column_once(spark):
    df = registry.QUERIES["natural_join_semantics"](spark, SF)
    assert df.columns == ["nationkey", "suppliers", "customers"]
    assert df.count() > 0


def test_readability_bands_contain_their_extrema(spark):
    rows = registry.QUERIES["readability_proxy_bands"](
        spark, SF
    ).collect()
    assert rows
    for r in rows:
        assert r.band * 10000 <= r.min_milli <= r.max_milli
        assert r.max_milli < (r.band + 1) * 10000
        assert r.docs > 0


def test_association_rule_metric_bounds(spark):
    rows = registry.QUERIES["association_rules_lift"](
        spark, SF
    ).collect()
    for r in rows:
        assert r.sup_ab <= min(r.sup_i1, r.sup_i2)
        assert 0 < r.conf_permille <= 1000
        assert r.lift_milli > 0


def test_kendall_tau_b_agrees_with_brute_pair_model(spark):
    """Independent brute-force model (the Bollinger discipline): C, D,
    tie counts and tau_b recomputed from the RAW row pairs with numpy
    sign comparisons — no contingency grid, no shared cross-multiplied
    identity — must equal the query's output exactly (tau_b to the
    rounded 6th)."""
    import numpy as np

    row = registry.QUERIES["kendall_tau_b_grid"](spark, SF).collect()[0]
    raw = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select(
            F.substring("o_orderpriority", 1, 1)
            .cast("int")
            .alias("x"),
            F.month("o_orderdate").alias("y"),
        )
        .collect()
    )
    x = np.array([r.x for r in raw], dtype=np.int64)
    y = np.array([r.y for r in raw], dtype=np.int64)
    sx = np.sign(x[:, None] - x[None, :])
    sy = np.sign(y[:, None] - y[None, :])
    iu = np.triu_indices(len(x), k=1)
    prod = sx[iu] * sy[iu]
    c = int((prod > 0).sum())
    d = int((prod < 0).sum())
    tie_x = int((sx[iu] == 0).sum())
    tie_y = int((sy[iu] == 0).sum())
    n0 = len(x) * (len(x) - 1) // 2
    assert row.c_pairs == c
    assert row.d_pairs == d
    assert row.tie_x == tie_x
    assert row.tie_y == tie_y
    assert row.n0 == n0
    import math

    tau = (c - d) / math.sqrt((n0 - tie_x) * (n0 - tie_y))
    assert row.tau_b == round(tau, 6)

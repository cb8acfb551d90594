"""Lockstep proof that the documented cluster-scale form of the two
global-order statistical queries is a verified drop-in, not a
docstring promise (r8 verdict item 7).

``mann_whitney_u`` and ``ks_two_sample`` (queries/stats/inference.py)
each keep ONE global-order stage — a rank / cumulative window with no
PARTITION BY — justified by their bounded inputs (filtered two-group
sample; distinct-value price grid). Both
docstrings name the swap for unbounded inputs: a range-partitioned
prefix sum built on operators/ranking.py. These tests compose each
statistic through ``range_prefix_sum`` and assert the outputs are
IDENTICAL to the registered queries', so a drift in either side
breaks the build.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry
from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.operators.ranking import (
    range_prefix_sum,
)

SF_DIR = "/root/testdata/sf0.001"


def test_range_prefix_sum_matches_global_window(spark):
    """Unit lockstep on synthetic data with heavy duplicates: the
    operator must reproduce sum(x) OVER (ORDER BY v, id ROWS
    UNBOUNDED PRECEDING) exactly, across range boundaries and ties
    in the order value."""
    rows = [(i, (i * 7) % 13, (i * 3) % 5 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "v", "x"])
    w = Window.orderBy("v", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r["id"]): r["c"]
        for r in df.select(
            "id", F.sum("x").over(w).alias("c")
        ).collect()
    }
    got = {
        (r["id"]): r["cum_x"]
        for r in range_prefix_sum(
            df, "v", ["id"], ["x"], n_ranges=8
        ).collect()
    }
    assert got == want


def test_ks_two_sample_invariant_under_prefix_sum_swap(spark):
    """ks_two_sample recomposed with range_prefix_sum in place of its
    cumulative global window must emit the identical single row."""
    registry.load_all()
    want = registry.QUERIES["ks_two_sample"](spark, SF_DIR).collect()
    assert len(want) == 1

    o = Catalog(spark, SF_DIR).orders
    is_a = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    pts = (
        o.select(
            F.col("o_totalprice").alias("v"),
            is_a.alias("a"),
            (1 - is_a).alias("b"),
        )
        .groupBy("v")
        .agg(
            F.sum("a").cast("long").alias("c1"),
            F.sum("b").cast("long").alias("c2"),
        )
    )
    # the swap under test: distributed prefix sum over the price grid
    cum = range_prefix_sum(pts, "v", [], ["c1", "c2"], n_ranges=8)
    cum = cum.select(
        "v",
        F.col("cum_c1").cast("long").alias("f1"),
        F.col("cum_c2").cast("long").alias("f2"),
    )
    tot = o.agg(
        F.sum(is_a).cast("long").alias("n1"),
        F.sum(1 - is_a).cast("long").alias("n2"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n1",
        "n2",
        F.abs(
            F.col("n2") * F.col("f1") - F.col("n1") * F.col("f2")
        ).alias("dn"),
    )
    mx = d.agg(F.max("dn").cast("long").alias("d_num"))
    at = d.join(F.broadcast(mx), d.dn == mx.d_num).agg(
        F.min("v").alias("ks_at_value")
    )
    got = (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            F.col("n1").alias("n_a"),
            F.col("n2").alias("n_b"),
            F.col("d_num"),
            F.expr("d_num * 1000 div (n1 * n2)")
            .cast("long")
            .alias("ks_permille"),
            F.col("ks_at_value").cast("double"),
        )
        .collect()
    )
    assert got == want


def test_gini_invariant_under_global_rank_swap(spark):
    """gini_concentration_index ships with with_global_rank (r10 — the
    per-customer dimension grows with the fact table, so the global
    window had to go). This test recomposes the statistic with the
    plain partitionless window it replaced and asserts the identical
    single row, proving the swap exact in the OTHER direction."""
    registry.load_all()
    want = registry.QUERIES["gini_concentration_index"](
        spark, SF_DIR
    ).collect()
    assert len(want) == 1

    o = Catalog(spark, SF_DIR).orders
    cents_expr = "CAST(round(o_totalprice * 100) AS BIGINT)"
    spend = o.groupBy("o_custkey").agg(
        F.expr(f"sum({cents_expr})").alias("cents")
    )
    ranked = spend.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "o_custkey"))
        .alias("rn"),
    )
    got = (
        ranked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("tot"),
            F.sum(
                F.col("rn").cast("decimal(38,0)") * F.col("cents")
            ).alias("s"),
        )
        .select(
            F.col("n").alias("n_customers"),
            F.col("tot").cast("long").alias("total_cents"),
            F.expr(
                "(2.0 * CAST(s AS DOUBLE) - (n + 1.0) *"
                " CAST(tot AS DOUBLE)) / (CAST(n AS DOUBLE) *"
                " CAST(tot AS DOUBLE))"
            ).alias("gini"),
        )
        .collect()
    )
    assert got == want


def test_lorenz_invariant_under_global_rank_swap(spark):
    """lorenz_curve_deciles recomposed with the plain partitionless
    row_number window must emit the identical ten rows."""
    registry.load_all()
    want = registry.QUERIES["lorenz_curve_deciles"](
        spark, SF_DIR
    ).collect()
    assert want

    o = Catalog(spark, SF_DIR).orders
    cents_expr = "CAST(round(o_totalprice * 100) AS BIGINT)"
    spend = o.groupBy("o_custkey").agg(
        F.expr(f"sum({cents_expr})").cast("long").alias("cents")
    )
    ranked = spend.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "o_custkey"))
        .alias("rn"),
    )
    n = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("nc"),
        F.sum("cents").cast("long").alias("tot"),
    )
    dec = ranked.crossJoin(F.broadcast(n)).select(
        F.expr("CAST(((rn - 1) * 10) div nc AS BIGINT)").alias(
            "decile"
        ),
        "cents",
        "tot",
    )
    agg = dec.groupBy("decile", "tot").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("decile_cents"),
    )
    got = (
        agg.select(
            "decile",
            "n_customers",
            "decile_cents",
            F.expr(
                "CAST(sum(decile_cents) OVER (ORDER BY decile) * 1000"
                " div tot AS BIGINT)"
            ).alias("cum_share_permille"),
        )
        .orderBy("decile")
        .collect()
    )
    assert got == want


def test_mann_whitney_invariant_under_prefix_sum_swap(spark):
    """mann_whitney_u recomposed tie-group-wise over the distinct
    cents grid: 2·avg tied rank = 2·cum_cnt − cnt + 1 per value, so
    Σ rank2 per group folds from range_prefix_sum output with no
    global rank window at all. Must emit the identical single row."""
    registry.load_all()
    want = registry.QUERIES["mann_whitney_u"](spark, SF_DIR).collect()
    assert len(want) == 1

    o = Catalog(spark, SF_DIR).orders.where(
        (F.col("o_orderkey") < 6000)
        & F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    per_v = (
        o.select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("a"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("cents")
        .agg(
            F.sum("a").cast("long").alias("cnt_a"),
            F.sum(1 - F.col("a")).cast("long").alias("cnt_b"),
        )
        .withColumn("cnt", F.col("cnt_a") + F.col("cnt_b"))
    )
    cum = range_prefix_sum(per_v, "cents", [], ["cnt"], n_ranges=8)
    # doubled tie-averaged rank, integral by construction:
    # min_rank = cum_cnt - cnt + 1; rank2 = 2*min_rank + cnt - 1
    rank2 = 2 * F.col("cum_cnt") - F.col("cnt") + 1
    agg = cum.agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum("cnt_b").alias("n_b"),
        F.sum(F.col("cnt_a") * rank2).alias("s2a"),
        F.sum(F.col("cnt_b") * rank2).alias("s2b"),
    )
    got = agg.select(
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        ((F.col("s2a") - F.col("n_a") * (F.col("n_a") + 1)) / 2)
        .cast("long")
        .alias("u_a"),
        ((F.col("s2b") - F.col("n_b") * (F.col("n_b") + 1)) / 2)
        .cast("long")
        .alias("u_b"),
    ).collect()
    assert got == want

"""band_join_order_pairs, listagg_sorted, streak_islands and
skew_salted_join_agg: oracle parity at sf0.001 plus the plan-shape
guarantees that make them scale-safe."""

from __future__ import annotations

from hdsp_hive_release_src_spark.registry import ORACLES, QUERIES, load_all
from tests.conftest import oracle_compare

load_all()

NAMES = (
    "band_join_order_pairs",
    "listagg_sorted",
    "streak_islands",
    "skew_salted_join_agg",
    "map_higher_order",
    "try_arithmetic",
    "date_builtins_extended",
)


def test_try_arithmetic_null_semantics(spark, sf_dir):
    # non-numeric casts and /0 must yield NULL, never raise
    row = QUERIES["try_arithmetic"](spark, sf_dir).collect()[0]
    assert row.n_type_numeric == 0
    assert row.n_brand_ids == row.n_rows  # every brand has a numeric tail


def test_try_divide_zero_denominator_constructed(spark):
    # the parquet data has no p_size=0, so force the /0 branch with
    # constructed rows: try_divide must yield NULL, never raise
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(10.0, 0), (10.0, 2), (None, 0)], "num double, den int"
    )
    got = [
        r.q
        for r in df.select(
            F.try_divide("num", "den").alias("q")
        ).collect()
    ]
    assert got == [None, 5.0, None]
    r = spark.sql(
        "SELECT try_cast('x12' AS INT) AS a, try_divide(1, 0) AS b,"
        " try_add(9223372036854775807, 1) AS c"
    ).collect()[0]
    assert r.a is None and r.b is None and r.c is None


def test_oracle_parity(spark, sf_dir, duck):
    for name in NAMES:
        df = QUERIES[name](spark, sf_dir)
        oracle_compare(df, duck, ORACLES[name])


def test_band_join_is_not_cartesian(spark, sf_dir):
    from hdsp_hive_release_src_spark.plans import explain_str

    plan = explain_str(QUERIES["band_join_order_pairs"](spark, sf_dir), "simple")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_listagg_broadcasts_nation(spark, sf_dir):
    from hdsp_hive_release_src_spark.plans import explain_str

    plan = explain_str(QUERIES["listagg_sorted"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan


def test_streaks_match_hand_model(spark, sf_dir):
    # one user's streaks recomputed with a plain Python model
    rows = QUERIES["streak_islands"](spark, sf_dir).collect()
    from hdsp_hive_release_src_spark.catalog import Catalog

    ev = Catalog(spark, sf_dir).events
    days = sorted(
        {
            (r.user_id, r.day)
            for r in ev.selectExpr(
                "user_id", "to_date(date_trunc('day', ts)) AS day"
            ).collect()
        }
    )
    by_user: dict[int, list] = {}
    for u, d in days:
        by_user.setdefault(u, []).append(d)
    for r in rows:
        ds = by_user[r.user_id]
        streaks, cur = [], 1
        for a, b in zip(ds, ds[1:]):
            if (b - a).days == 1:
                cur += 1
            else:
                streaks.append(cur)
                cur = 1
        streaks.append(cur)
        assert r.max_streak == max(streaks)
        assert r.n_streaks == len(streaks)
        assert r.active_days == sum(streaks)

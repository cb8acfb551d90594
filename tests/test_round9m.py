"""Round-9 thirteenth-wave properties: VWAP weighting identity,
drawdown recursion replay, RSI bounds, sqrt-free Bollinger cross-check
vs float sigma, YoY lag edge, ABC plan shape + class coverage."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def _daily_cents(spark):
    return sorted(
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("v")
        )
        .collect(),
        key=lambda r: r.d,
    )


def test_vwap_rolling_weighting_identity(spark):
    from hdsp_hive_release_src_spark.queries.events.timeseries import TA_WIN

    rows = sorted(
        registry.QUERIES["vwap_rolling"](spark, SF).collect(),
        key=lambda r: r.d,
    )
    assert rows
    col = f"vwap_{TA_WIN}d_cents"
    for i, r in enumerate(rows):
        # rolling vwap is bounded by the min/max of the daily vwaps in
        # the frame (true for a volume-weighted mean, false for an
        # average-of-averages on skewed volumes)
        frame = rows[max(0, i - TA_WIN + 1) : i + 1]
        lo = min(x.vwap_cents for x in frame)
        hi = max(x.vwap_cents for x in frame)
        assert lo - 1 <= r[col] <= hi + 1, (r.d, lo, r[col], hi)


def test_drawdown_matches_python_replay(spark):
    rows = sorted(
        registry.QUERIES["max_drawdown_profile"](spark, SF).collect(),
        key=lambda r: r.d,
    )
    daily = _daily_cents(spark)
    assert len(rows) == len(daily)
    eq = 0
    peak = None
    mdd = 0
    expect = []
    for r in daily:
        eq += r.v
        peak = eq if peak is None else max(peak, eq)
        dd = peak - eq
        mdd = max(mdd, dd)
        expect.append((r.d, eq, peak, dd))
    for row, (d, e, p, dd) in zip(rows, expect):
        assert (row.d, row.equity, row.run_peak, row.drawdown_cents) == (
            d, e, p, dd,
        )
        assert row.drawdown_permille == dd * 1000 // p
    assert {r.max_drawdown_cents for r in rows} == {mdd}


def test_rsi_bounds_and_full_window_only(spark):
    from hdsp_hive_release_src_spark.queries.events.timeseries import TA_WIN

    rows = registry.QUERIES["rsi_indicator"](spark, SF).collect()
    assert rows
    daily = _daily_cents(spark)
    # one delta per day after the first; full frames start TA_WIN in
    assert len(rows) == max(0, (len(daily) - 1) - TA_WIN + 1)
    for r in rows:
        assert 0 <= r.rsi_permille <= 1000
        tot = r.gains_cents + r.losses_cents
        if tot:
            assert r.rsi_permille == r.gains_cents * 1000 // tot


def test_bollinger_breach_agrees_with_float_sigma(spark):
    """The integer squared comparison must agree with the float
    2-sigma test except exactly on the boundary (where float is
    undefined behaviour and integer is the spec)."""
    from hdsp_hive_release_src_spark.queries.events.timeseries import TA_WIN

    rows = sorted(
        registry.QUERIES["bollinger_breach"](spark, SF).collect(),
        key=lambda r: r.d,
    )
    assert rows
    daily = [r.v // 10000 for r in _daily_cents(spark)]
    xs = daily
    out = []
    for i in range(TA_WIN - 1, len(xs)):
        frame = xs[i - TA_WIN + 1 : i + 1]
        n = len(frame)
        s = sum(frame)
        ss = sum(x * x for x in frame)
        out.append((frame[-1], n, s, ss))
    assert len(out) == len(rows)
    for row, (x, n, s, ss) in zip(rows, out):
        # exact integer replay of the cross-multiplied test
        int_breach = (x * n - s) ** 2 > 4 * (n * ss - s * s)
        assert row.breach == int_breach, (row.d, x, n, s, ss)
        # and it agrees with the float 2-sigma test off the boundary
        mu = s / n
        var = (n * ss - s * s) / (n * n)
        float_breach = abs(x - mu) > 2 * math.sqrt(var)
        assert row.breach == float_breach or math.isclose(
            abs(x - mu), 2 * math.sqrt(var), rel_tol=1e-9
        ), (row.d, x, mu, var)
        if x * n > s:
            assert row.side == 1
        elif x * n < s:
            assert row.side == -1
        assert row.mean_units == s // n
        assert row.var_units2 == (n * ss - s * s) // (n * n)


def test_yoy_first_year_null_and_identity(spark):
    rows = sorted(
        registry.QUERIES["yoy_revenue_growth"](spark, SF).collect(),
        key=lambda r: r.y,
    )
    assert len(rows) >= 2
    assert rows[0].prev_cents is None
    assert rows[0].yoy_growth_permille is None
    for a, b in zip(rows, rows[1:]):
        assert b.prev_cents == a.rev_cents
        num = (b.rev_cents - b.prev_cents) * 1000
        q = abs(num) // b.prev_cents
        assert b.yoy_growth_permille == (q if num >= 0 else -q)


def test_abc_covers_all_parts_and_has_no_global_window(spark):
    from hdsp_hive_release_src_spark.plans import explain_str

    df = registry.QUERIES["abc_pareto_class"](spark, SF)
    plan = explain_str(df, "simple")
    # the 1-row revenue total legitimately plans a scalar Exchange
    # SinglePartition under its BroadcastExchange, so the check is
    # per-Window-node (the rfm_segmentation idiom): a partitioned
    # Window prints THREE bracket groups, a partitionless one two.
    window_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert window_lines, plan  # prefix-sum path must be windowed
    for ln in window_lines:
        assert ln.count("], [") >= 2, (ln, plan)
    rows = {r.abc_class: r for r in df.collect()}
    assert set(rows) == {"A", "B", "C"}
    n_parts = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert sum(r.n_parts for r in rows.values()) == n_parts
    shares = {k: r.share_permille for k, r in rows.items()}
    assert shares["A"] >= shares["B"] >= shares["C"]
    assert 997 <= sum(shares.values()) <= 1000  # truncation loss < 3

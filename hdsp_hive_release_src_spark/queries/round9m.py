"""SURVEY.md §2 round-9 thirteenth wave (queued for the r10 window) —
financial / technical time-series analytics depth:

- ``vwap_rolling`` — daily volume-weighted average price plus its
  7-day rolling form, both from windowed INTEGER sums divided once
  at the end (never an average-of-averages, which weights days
  wrongly and drifts between engines).
- ``max_drawdown_profile`` — cumulative revenue, running peak, and
  per-day drawdown — the classic risk profile — as three stacked
  windows over the bounded day grain.
- ``rsi_indicator`` — Wilder-style Relative Strength Index from
  integer gain/loss sums: RSI = gains·1000 div (gains+losses)
  permille over a 7-day delta window.
- ``bollinger_breach`` — rolling mean/variance bands with the breach
  test done SQRT-FREE: |x−μ| > 2σ  ⟺  (x·n−Σ)² > 4·(n·Σx²−Σ²),
  so the band flag is an exact integer comparison on both engines.
- ``yoy_revenue_growth`` — year-over-year growth permille on the
  orders fact (lag over the bounded year grain).
- ``abc_pareto_class`` — ABC inventory classification (cumulative
  revenue share 80/95 cuts) with the cumulative computed by
  ``operators/ranking.range_prefix_sum`` — NO single-partition
  window over the parts dimension (driver-gates the operator on a
  descending-order composition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.operators.ranking import (
    range_prefix_sum,
)
from hdsp_hive_release_src_spark.registry import query

B = F.broadcast

#: rolling frame length (days) shared by VWAP / RSI / Bollinger.
TA_WIN = 7

_DAILY_CENTS = """
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1"""


# --------------------------------------------------------------------
# VWAP + rolling VWAP
# --------------------------------------------------------------------

_VWAP_ORACLE = f"""
WITH daily AS (
  SELECT l_shipdate AS d,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS pv,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS vol
  FROM lineitem
  WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
  GROUP BY 1),
roll AS (
  SELECT d, pv, vol,
         CAST(sum(pv) OVER (ORDER BY d ROWS {TA_WIN - 1} PRECEDING)
              AS BIGINT) AS rpv,
         CAST(sum(vol) OVER (ORDER BY d ROWS {TA_WIN - 1} PRECEDING)
              AS BIGINT) AS rvol
  FROM daily)
SELECT d, vol,
       CAST(pv // vol AS BIGINT) AS vwap_cents,
       CAST(rpv // rvol AS BIGINT) AS vwap_{TA_WIN}d_cents
FROM roll ORDER BY d
"""


@query("vwap_rolling", oracle=_VWAP_ORACLE)
def vwap_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily VWAP (Σ price·volume / Σ volume — extendedprice already
    carries the quantity factor) over a Q1-1995 ship window, plus the
    {TA_WIN}-day rolling VWAP computed the only correct way: rolling
    INTEGER numerator and denominator summed separately, divided
    once — an average of daily VWAPs would weight low-volume days
    equally and is also float-unstable. One fact scan with the ship
    date predicate pushed to parquet, a bounded day-grain rollup,
    then constant-size frames on ≤90 rows."""
    li = Catalog(spark, sf_dir).lineitem
    daily = (
        li.where(
            F.col("l_shipdate").between("1995-01-01", "1995-03-31")
        )
        .groupBy(F.col("l_shipdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("pv"),
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("vol"),
        )
    )
    w = Window.orderBy("d").rowsBetween(-(TA_WIN - 1), 0)
    return (
        daily.select(
            "d",
            "vol",
            F.expr("cast(pv div vol as bigint)").alias("vwap_cents"),
            F.sum("pv").over(w).cast("long").alias("_rpv"),
            F.sum("vol").over(w).cast("long").alias("_rvol"),
        )
        .select(
            "d",
            "vol",
            "vwap_cents",
            F.expr("cast(_rpv div _rvol as bigint)").alias(
                f"vwap_{TA_WIN}d_cents"
            ),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------
# max drawdown
# --------------------------------------------------------------------

_DRAWDOWN_ORACLE = f"""
WITH daily AS ({_DAILY_CENTS}),
cum AS (
  SELECT d,
         CAST(sum(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS equity
  FROM daily),
peak AS (
  SELECT d, equity,
         CAST(max(equity) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS run_peak
  FROM cum)
SELECT d, equity, run_peak,
       CAST(run_peak - equity AS BIGINT) AS drawdown_cents,
       CAST((run_peak - equity) * 1000 // run_peak AS BIGINT)
           AS drawdown_permille,
       CAST(max(run_peak - equity) OVER () AS BIGINT)
           AS max_drawdown_cents
FROM peak ORDER BY d
"""


@query("max_drawdown_profile", oracle=_DRAWDOWN_ORACLE)
def max_drawdown_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drawdown risk profile of the cumulative daily revenue curve:
    running equity, running peak, per-day drawdown (absolute cents
    and permille of peak), and the global max drawdown repeated as a
    scalar column — all exact integers, three stacked windows over
    the bounded DAY grain (≤ corpus span rows; the only full-data
    pass is the daily rollup). The permille divides by the running
    peak (standard drawdown normalization), truncating — engines
    cannot disagree."""
    ev = Catalog(spark, sf_dir).events
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "d", F.sum("v").over(w).cast("long").alias("equity")
    )
    peak = cum.select(
        "d",
        "equity",
        F.max("equity").over(w).cast("long").alias("run_peak"),
    )
    wall = Window.partitionBy()
    return (
        peak.select(
            "d",
            "equity",
            "run_peak",
            (F.col("run_peak") - F.col("equity"))
            .cast("long")
            .alias("drawdown_cents"),
            F.expr(
                "cast((run_peak - equity) * 1000 div run_peak"
                " as bigint)"
            ).alias("drawdown_permille"),
            F.max(F.col("run_peak") - F.col("equity"))
            .over(wall)
            .cast("long")
            .alias("max_drawdown_cents"),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------
# RSI
# --------------------------------------------------------------------

_RSI_ORACLE = f"""
WITH daily AS ({_DAILY_CENTS}),
delta AS (
  SELECT d, v - lag(v) OVER (ORDER BY d) AS dv
  FROM daily),
gl AS (
  SELECT d,
         CASE WHEN dv > 0 THEN dv ELSE 0 END AS gain,
         CASE WHEN dv < 0 THEN -dv ELSE 0 END AS loss,
         CAST(count(dv) OVER (ORDER BY d ROWS {TA_WIN - 1} PRECEDING)
              AS BIGINT) AS nd
  FROM delta WHERE dv IS NOT NULL),
roll AS (
  SELECT d, nd,
         CAST(sum(gain) OVER (ORDER BY d ROWS {TA_WIN - 1} PRECEDING)
              AS BIGINT) AS g,
         CAST(sum(loss) OVER (ORDER BY d ROWS {TA_WIN - 1} PRECEDING)
              AS BIGINT) AS l
  FROM gl)
SELECT d, g AS gains_cents, l AS losses_cents,
       CAST(CASE WHEN g + l = 0 THEN 500
                 ELSE g * 1000 // (g + l) END AS BIGINT)
           AS rsi_permille
FROM roll WHERE nd = {TA_WIN} ORDER BY d
"""


@query("rsi_indicator", oracle=_RSI_ORACLE)
def rsi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index over the daily revenue series: split
    each day-over-day delta into gain/loss, sum both over a
    {TA_WIN}-day frame, RSI = gains·1000 div (gains+losses) exact
    permille (the flat-series 0/0 case pins to 500 = neutral, in
    both engines). Emitted only for days with a FULL window (the
    count-over-frame guard), so partial-frame edge values never
    reach the gate. All windows run on the bounded day grain."""
    ev = Catalog(spark, sf_dir).events
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    wd = Window.orderBy("d")
    delta = daily.select(
        "d", (F.col("v") - F.lag("v").over(wd)).alias("dv")
    ).where(F.col("dv").isNotNull())
    wr = wd.rowsBetween(-(TA_WIN - 1), 0)
    roll = delta.select(
        "d",
        F.count("dv").over(wr).cast("long").alias("nd"),
        F.sum(
            F.when(F.col("dv") > 0, F.col("dv")).otherwise(0)
        )
        .over(wr)
        .cast("long")
        .alias("g"),
        F.sum(
            F.when(F.col("dv") < 0, -F.col("dv")).otherwise(0)
        )
        .over(wr)
        .cast("long")
        .alias("l"),
    )
    return (
        roll.where(F.col("nd") == TA_WIN)
        .select(
            "d",
            F.col("g").alias("gains_cents"),
            F.col("l").alias("losses_cents"),
            F.expr(
                "cast(case when g + l = 0 then 500"
                " else g * 1000 div (g + l) end as bigint)"
            ).alias("rsi_permille"),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------
# Bollinger bands, sqrt-free
# --------------------------------------------------------------------

_BOLL_ORACLE = f"""
WITH daily AS (
  SELECT d, CAST(v // 10000 AS BIGINT) AS x
  FROM ({_DAILY_CENTS}) dd),
roll AS (
  SELECT d, x,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(x) OVER w AS BIGINT) AS s,
         CAST(sum(x * x) OVER w AS BIGINT) AS ss
  FROM daily
  WINDOW w AS (ORDER BY d ROWS {TA_WIN - 1} PRECEDING))
SELECT d, x AS value_units,
       CAST(s // n AS BIGINT) AS mean_units,
       CAST((n * ss - s * s) // (n * n) AS BIGINT) AS var_units2,
       CAST((x * n - s) * (x * n - s) > 4 * (n * ss - s * s)
            AS BOOLEAN) AS breach,
       CAST(CASE WHEN x * n - s > 0 THEN 1
                 WHEN x * n - s < 0 THEN -1 ELSE 0 END AS BIGINT)
           AS side
FROM roll WHERE n = {TA_WIN} ORDER BY d
"""


@query("bollinger_breach", oracle=_BOLL_ORACLE)
def bollinger_breach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger band breach detection with NO square root anywhere:
    |x − μ| > 2σ over an n-day frame is equivalent (×n² both sides) to
    (x·n − Σ)² > 4·(n·Σx² − Σ²) — cross-multiplied so every term
    is an exact integer ($100 revenue units; worst case ≈ (1e5)²·7
    at sf1, far inside int64). A float σ would make boundary days
    engine-dependent; the squared comparison cannot. Emits the
    rolling mean and the exact population variance of the frame too;
    full-window days only."""
    ev = Catalog(spark, sf_dir).events
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.expr(
            "cast(sum(cast(round(value * 100) as bigint)) div 10000"
            " as bigint)"
        ).alias("x")
    )
    w = Window.orderBy("d").rowsBetween(-(TA_WIN - 1), 0)
    roll = daily.select(
        "d",
        "x",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("ss"),
    )
    return (
        roll.where(F.col("n") == TA_WIN)
        .select(
            "d",
            F.col("x").alias("value_units"),
            F.expr("cast(s div n as bigint)").alias("mean_units"),
            F.expr("cast((n * ss - s * s) div (n * n) as bigint)")
            .alias("var_units2"),
            F.expr(
                "(x * n - s) * (x * n - s) > 4 * (n * ss - s * s)"
            ).alias("breach"),
            F.expr(
                "cast(case when x * n - s > 0 then 1"
                " when x * n - s < 0 then -1 else 0 end as bigint)"
            ).alias("side"),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------
# year-over-year growth
# --------------------------------------------------------------------

_YOY_ORACLE = """
WITH yearly AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1),
g AS (
  SELECT y, rev_cents,
         lag(rev_cents) OVER (ORDER BY y) AS prev_cents
  FROM yearly)
SELECT y, rev_cents, CAST(prev_cents AS BIGINT) AS prev_cents,
       CAST((rev_cents - prev_cents) * 1000 // prev_cents AS BIGINT)
           AS yoy_growth_permille
FROM g ORDER BY y
"""


@query("yoy_revenue_growth", oracle=_YOY_ORACLE)
def yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth on the orders fact: yearly
    revenue in exact cents, the previous year via lag over the
    bounded YEAR grain (seven rows — the window is over the rollup,
    never the fact), growth in truncated permille. The first year's
    growth is NULL (no prior), exactly as in both engines."""
    o = Catalog(spark, sf_dir).orders
    yearly = o.groupBy(
        F.year("o_orderdate").cast("long").alias("y")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("y")
    return (
        yearly.select(
            "y",
            "rev_cents",
            F.lag("rev_cents").over(w).cast("long").alias("prev_cents"),
        )
        .select(
            "y",
            "rev_cents",
            "prev_cents",
            F.expr(
                "cast((rev_cents - prev_cents) * 1000 div prev_cents"
                " as bigint)"
            ).alias("yoy_growth_permille"),
        )
        .orderBy("y")
    )


# --------------------------------------------------------------------
# ABC / Pareto classification via distributed prefix sum
# --------------------------------------------------------------------

#: inclusive cumulative-share cuts: A ≤ 80.0%, B ≤ 95.0%, C above.
ABC_A_PERMILLE = 800
ABC_B_PERMILLE = 950

_ABC_ORACLE = f"""
WITH prev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY 1),
cum AS (
  SELECT l_partkey, rev,
         CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS crev,
         CAST(sum(rev) OVER () AS BIGINT) AS tot
  FROM prev),
cls AS (
  SELECT CASE
           WHEN crev * 1000 // tot <= {ABC_A_PERMILLE} THEN 'A'
           WHEN crev * 1000 // tot <= {ABC_B_PERMILLE} THEN 'B'
           ELSE 'C' END AS abc_class,
         rev
  FROM cum)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev) AS BIGINT) AS revenue_cents,
       CAST(sum(rev) * 1000 // (SELECT sum(rev) FROM prev) AS BIGINT)
           AS share_permille
FROM cls GROUP BY abc_class ORDER BY abc_class
"""


@query("abc_pareto_class", oracle=_ABC_ORACLE)
def abc_pareto_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue
    descending, classified A/B/C at inclusive cumulative-share cuts
    of 80%/95% — the classic warehouse stratification. The cumulative
    revenue over the PARTS DIMENSION runs through
    ``operators/ranking.range_prefix_sum`` on the negated revenue
    (descending order as an ascending composition, partkey
    tiebreak) — a two-pass range-partitioned prefix sum, so the plan
    has NO single-partition window even though the oracle's SQL
    twin is exactly that window. Class shares are integer permille
    of the broadcast 1-row total."""
    li = Catalog(spark, sf_dir).lineitem
    # r13 subtree-sweep fix (was exempted as "two-pass by design" —
    # wrongly: the two prefix-sum probes, the window frame and the
    # total each re-ran the per-part rollup from parquet). The rollup
    # is part-dimension-sized — checkpoint it once; the 1-row total is
    # consumed by both the classifier and the share column.
    # r15: checkpoint_reduced (not raw localCheckpoint) so
    # range_prefix_sum's verified tier classifier recognizes the leaf
    # as a proven reduced materialization and keeps the checkpoint
    # tier (a raw checkpoint is unverifiable and would route the
    # operator's input materialization to a retained DISK_ONLY
    # persist — caught by the gates' r15 cache-hygiene check).
    from hdsp_hive_release_src_spark.operators.materialize import (
        checkpoint_reduced,
    )

    prev_ = checkpoint_reduced(
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev")
        )
    )
    ranked = range_prefix_sum(
        prev_.withColumn("neg_rev", -F.col("rev")),
        order_col="neg_rev",
        tiebreak_cols=["l_partkey"],
        sum_cols=["rev"],
    )
    tot = prev_.agg(
        F.sum("rev").cast("long").alias("tot")
    ).localCheckpoint()
    cls = ranked.crossJoin(B(tot)).select(
        "rev",
        F.when(
            F.expr(f"cum_rev * 1000 div tot <= {ABC_A_PERMILLE}"), "A"
        )
        .when(
            F.expr(f"cum_rev * 1000 div tot <= {ABC_B_PERMILLE}"), "B"
        )
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("rev").cast("long").alias("revenue_cents"),
        )
        .crossJoin(B(tot))
        .select(
            "abc_class",
            "n_parts",
            "revenue_cents",
            F.expr("cast(revenue_cents * 1000 div tot as bigint)")
            .alias("share_permille"),
        )
        .orderBy("abc_class")
    )

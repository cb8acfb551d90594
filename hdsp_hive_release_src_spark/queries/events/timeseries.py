"""Events domain: time series.

Time buckets, gap filling and interpolation, OHLC and trading
indicators (VWAP, RSI, Bollinger, drawdown), calendars, seasonality,
trend and change-point detection, anomaly scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import ORDER_CENTS, Catalog
from hdsp_hive_release_src_spark.registry import query


@query(
    "time_bucket_agg",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
)
def time_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day buckets per event type — partial agg map-side,
    single shuffle on (day, type)."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


@query(
    "event_count_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                  AS TIMESTAMP) AS day,
             count(*) AS n
      FROM events GROUP BY event_type, day),
    flagged AS (
      SELECT *, lag(n) OVER (PARTITION BY event_type ORDER BY day)
                 AS prev_n
      FROM daily)
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           CAST(prev_n AS BIGINT) AS prev_n,
           (n > 2 * prev_n OR 2 * n < prev_n) AS anomaly
    FROM flagged WHERE prev_n IS NOT NULL
    ORDER BY event_type, day
    """,
)
def event_count_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day volume anomaly flags (count doubled or halved vs
    the prior day, per event type) — the simplest alarm every ingest
    monitor runs; the window is over the per-day AGGREGATE (tiny), so
    the pattern costs one shuffle regardless of event volume."""
    ev = Catalog(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    flagged = daily.withColumn("prev_n", F.lag("n").over(w))
    return (
        flagged.where(F.col("prev_n").isNotNull())
        .select(
            "event_type",
            "day",
            F.col("n").cast("long").alias("n"),
            F.col("prev_n").cast("long").alias("prev_n"),
            (
                (F.col("n") > 2 * F.col("prev_n"))
                | (2 * F.col("n") < F.col("prev_n"))
            ).alias("anomaly"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "time_weighted_avg",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             epoch_us(lead(CAST(ts AS TIMESTAMP)) OVER w)
               - epoch_us(CAST(ts AS TIMESTAMP)) AS dur_us
      FROM events WHERE user_id < 50
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP),
                   event_id))
    SELECT user_id,
           round(sum(value * dur_us) / sum(dur_us), 6) AS twa,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM s WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY user_id ORDER BY user_id
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over irregular samples — the correct mean
    for sensor/metric streams where a value holds until the next
    reading (an arithmetic mean over-weights bursty periods): each
    value weighted by its holding duration (lead(ts) - ts). One window
    pass per user partition, then a plain aggregate — both share the
    user_id shuffle."""
    ev = Catalog(spark, sf_dir).events.where(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dur = (
        F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    )
    s = ev.select("user_id", "value", dur.alias("dur_us")).where(
        F.col("dur_us").isNotNull() & (F.col("dur_us") > 0)
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dur_us"))
                / F.sum("dur_us"),
                6,
            ).alias("twa"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .orderBy("user_id")
    )


@query(
    "ohlc_daily",
    oracle="""
    WITH r AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                 AS day, value,
             row_number() OVER (PARTITION BY date_trunc('day',
                 CAST(ts AS TIMESTAMP))
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_open,
             row_number() OVER (PARTITION BY date_trunc('day',
                 CAST(ts AS TIMESTAMP))
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC)
                 AS rn_close
      FROM events)
    SELECT day,
           round(max(CASE WHEN rn_open = 1 THEN value END), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max(CASE WHEN rn_close = 1 THEN value END), 6) AS close,
           count(*) AS n_events
    FROM r GROUP BY day ORDER BY day
    """,
)
def ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars: open/close via min_by/max_by on a composite
    (ts, event_id) time key (ties on ts broken deterministically),
    high/low/count in the same single-shuffle aggregation. The oracle
    emulates arg-min/max with window ranks (DuckDB arg_min can't take
    a composite key)."""
    ev = Catalog(spark, sf_dir).events
    tkey = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.round(F.min_by("value", tkey), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", tkey), 6).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day")
    )


@query(
    "gapfill_daily",
    oracle="""
    WITH b AS (
      SELECT min(date_trunc('day', CAST(ts AS TIMESTAMP))) AS lo,
             max(date_trunc('day', CAST(ts AS TIMESTAMP))) AS hi
      FROM events),
    days AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                  AS TIMESTAMP) AS day FROM b),
    grid AS (
      SELECT day, event_type
      FROM days CROSS JOIN (SELECT DISTINCT event_type FROM events)),
    counts AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                 AS day, event_type, count(*) AS n
      FROM events GROUP BY day, event_type)
    SELECT g.day, g.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN counts c USING (day, event_type)
    ORDER BY g.day, g.event_type
    """,
)
def gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: dense (day × event_type) grid from a 1-row
    min/max bounds aggregate (sequence + explode), zero-filled left
    join against the real daily counts. The grid side is tiny and
    broadcast — the fact table is aggregated exactly once."""
    ev = Catalog(spark, sf_dir).events
    day = F.date_trunc("day", "ts").alias("day")
    # r12 scan-count fix: bounds and the type list used to re-scan
    # events (3 scans measured); both derive from the checkpointed
    # daily count grid, so the fact table really is aggregated
    # exactly once as the docstring promises
    counts = (
        ev.groupBy(day, "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    bounds = counts.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        )
    )
    grid = F.broadcast(
        days.crossJoin(counts.select("event_type").distinct())
    )
    return (
        grid.join(counts, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("n"),
        )
        .orderBy("day", "event_type")
    )


@query(
    "window_range_trailing",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW),
               2) AS trailing_30d
    FROM orders WHERE o_custkey < 300
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-customer trailing 30-day order total.
    Spark's rangeBetween is numeric-only, so the time axis is epoch
    seconds (value-based peers — identical semantics to the oracle's
    RANGE INTERVAL frame, unlike a ROWS frame which would miss
    same-day peers)."""
    o = Catalog(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return (
        o.where(F.col("o_custkey") < 300)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "locf_interpolation",
    oracle="""
    SELECT user_id, event_id,
           round(last_value(CASE WHEN event_id % 7 = 0 THEN NULL
                                 ELSE value END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               6) AS value_filled
    FROM events WHERE user_id < 100
    ORDER BY user_id, event_id
    """,
)
def locf_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap repair: nulls (synthesized
    deterministically on every 7th event) are filled from the user's
    most recent non-null reading — last(ignorenulls) over a running
    row frame, one shuffle on user_id. Leading nulls stay null (no
    observation to carry)."""
    ev = Catalog(spark, sf_dir).events
    v = F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.where(F.col("user_id") < 100)
        .select(
            "user_id",
            "event_id",
            F.round(F.last(v, ignorenulls=True).over(w), 6).alias(
                "value_filled"
            ),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "cusum_drift_detection",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    params AS (
      SELECT event_type,
             (11 * sum(n)) // (10 * count(*)) AS k
      FROM daily GROUP BY event_type),
    c AS (
      SELECT daily.event_type, d, n, k,
             sum(n - k) OVER (PARTITION BY daily.event_type
                              ORDER BY d) AS cum
      FROM daily JOIN params ON daily.event_type = params.event_type),
    s AS (
      SELECT event_type, d, k,
             cum - least(0, min(cum) OVER (PARTITION BY event_type
                             ORDER BY d)) AS cusum
      FROM c)
    SELECT event_type, CAST(max(k) AS BIGINT) AS k,
           CAST(max(cusum) AS BIGINT) AS max_cusum,
           CAST(count(CASE WHEN cusum > 3 * k THEN 1 END) AS BIGINT)
               AS n_alert_days
    FROM s GROUP BY event_type ORDER BY event_type
    """,
)
def cusum_drift_detection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-sided CUSUM drift detection over daily event volumes — the
    classic sequential change detector (Page 1954): S_t =
    max(0, S_{t-1} + x_t - k) alarms when the cumulated exceedance
    over the allowance k passes a threshold. The recursion is not
    window-expressible directly, but the closed form is:
    S_t = C_t - min(0, min_{i≤t} C_i) with C the running sum of
    (x - k) — a cumsum and a running min over the SAME
    partition/order, so both windows share one exchange and one
    sort. Everything is integer (daily counts, integer-division
    allowance k = ⌈1.1·mean⌉-ish, threshold 3k), so there is no
    float boundary anywhere. At 100 TB the input to the windows is
    the DAILY aggregate — window length = days, not events."""
    ev = Catalog(spark, sf_dir).events
    # r13 subtree-sweep fix: the allowance params and the window input
    # both re-ran the daily rollup from parquet. Day-grain table —
    # checkpoint once.
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    params = daily.groupBy("event_type").agg(
        F.expr("(11 * sum(n)) div (10 * count(*))").alias("k")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    c = (
        daily.join(params, "event_type")
        .withColumn("cum", F.sum(F.col("n") - F.col("k")).over(w))
        .withColumn(
            "cusum",
            F.col("cum") - F.least(F.lit(0), F.min("cum").over(w)),
        )
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.max("k").cast("long").alias("k"),
            F.max("cusum").cast("long").alias("max_cusum"),
            F.count(
                F.when(F.col("cusum") > 3 * F.col("k"), F.lit(1))
            ).cast("long").alias("n_alert_days"),
        )
        .orderBy("event_type")
    )


#: rolling frame length (days) shared by VWAP / RSI / Bollinger.
TA_WIN = 7


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


_DAILY_CENTS = """
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1"""


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
# business-day lag
# --------------------------------------------------------------------

def _bizdays_sql(epoch_col: str) -> str:
    """Weekdays in [1970-01-01, epoch day e) — closed form, validated
    against brute force in tests: 5·((e+3) div 7) +
    least((e+3) mod 7, 5) − 3. Pure div/mod/least, portable to both
    engines verbatim."""
    return (
        f"(5 * (({epoch_col} + 3) // 7)"
        f" + least(({epoch_col} + 3) % 7, 5) - 3)"
    )


_BIZ_ORACLE = f"""
WITH lag_t AS (
  SELECT o.o_orderpriority AS priority,
         {_bizdays_sql("date_diff('day', DATE '1970-01-01', l.l_shipdate)")}
         - {_bizdays_sql("date_diff('day', DATE '1970-01-01', o.o_orderdate)")}
             AS bizdays
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
SELECT priority, CAST(count(*) AS BIGINT) AS n,
       CAST(min(bizdays) AS BIGINT) AS min_bizdays,
       CAST(max(bizdays) AS BIGINT) AS max_bizdays,
       CAST(sum(bizdays) * 1000 // count(*) AS BIGINT)
           AS avg_bizdays_milli
FROM lag_t GROUP BY priority ORDER BY priority
"""


@query("business_days_lag", oracle=_BIZ_ORACLE)
def business_days_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship lag measured in BUSINESS days (weekends excluded)
    via the closed-form weekday counter — no calendar dimension
    table, no per-day explode, one arithmetic expression per row
    (the formula g(e) = 5·((e+3) div 7) + least((e+3) mod 7, 5) − 3
    counts weekdays before epoch day e; the lag is g(ship)−g(order),
    naturally SIGNED — this corpus contains shipdates before their
    order dates, and the truncating mean keeps parity on negatives).
    Everything stays in int64 codegen; the join is the standard
    orders⋈lineitem key join and the output is the bounded priority
    rollup with an exact milli-day mean."""
    o = Catalog(spark, sf_dir).orders
    li = Catalog(spark, sf_dir).lineitem
    spark_biz = (
        lambda col: f"(5 * (({col} + 3) div 7)"
        f" + least(({col} + 3) % 7, 5) - 3)"
    )
    ship_e = "datediff(l_shipdate, date '1970-01-01')"
    ord_e = "datediff(o_orderdate, date '1970-01-01')"
    j = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.expr(f"{spark_biz(ship_e)} - {spark_biz(ord_e)}").alias(
            "bizdays"
        ),
    )
    return (
        j.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("bizdays").cast("long").alias("min_bizdays"),
            F.max("bizdays").cast("long").alias("max_bizdays"),
            F.expr(
                "cast(sum(bizdays) * 1000 div count(1) as bigint)"
            ).alias("avg_bizdays_milli"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------
# 4-4-5 fiscal calendar
# --------------------------------------------------------------------

_FISCAL_ORACLE = f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS od, {ORDER_CENTS} AS cents
  FROM orders),
fy AS (
  SELECT od, cents,
         CASE WHEN month(od) >= 2 THEN year(od) + 1
              ELSE year(od) END AS fyear
  FROM d),
wk AS (
  SELECT fyear, cents,
         CAST(od - make_date(fyear - 1, 2, 1) AS BIGINT) // 7 AS w
  FROM fy),
per AS (
  SELECT fyear, cents,
         CASE WHEN w >= 52 THEN 12
              ELSE (w // 13) * 3
                   + CASE WHEN w % 13 < 4 THEN 1
                          WHEN w % 13 < 8 THEN 2 ELSE 3 END
         END AS period
  FROM wk)
SELECT fyear, CAST(period AS BIGINT) AS period,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS cents
FROM per GROUP BY fyear, period ORDER BY fyear, period
"""


@query("fiscal_calendar_445", oracle=_FISCAL_ORACLE)
def fiscal_calendar_445(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-4-5 fiscal calendar (retail standard): fiscal year starts
    Feb 1, each quarter is 4+4+5 weeks, week 53 folds into period 12.
    The whole mapping is integer date arithmetic (days since FY
    start div 7, then the 4-4-5 CASE) — no calendar UDF, so it
    stays inside codegen and pushes through to any engine. Revenue
    rolled up per fiscal period."""
    o = Catalog(spark, sf_dir).orders
    d = o.select(
        F.to_date("o_orderdate").alias("od"),
        F.expr(ORDER_CENTS).alias("cents"),
    )
    fy = d.select(
        "od",
        "cents",
        F.expr(
            "CASE WHEN month(od) >= 2 THEN year(od) + 1"
            " ELSE year(od) END"
        ).alias("fyear"),
    )
    wk = fy.select(
        "fyear",
        "cents",
        F.expr(
            "CAST(datediff(od, make_date(fyear - 1, 2, 1)) AS BIGINT)"
            " div 7"
        ).alias("w"),
    )
    per = wk.select(
        "fyear",
        "cents",
        F.expr(
            "CAST(CASE WHEN w >= 52 THEN 12"
            " ELSE (w div 13) * 3"
            "      + CASE WHEN w % 13 < 4 THEN 1"
            "             WHEN w % 13 < 8 THEN 2 ELSE 3 END"
            " END AS BIGINT)"
        ).alias("period"),
    )
    return (
        per.groupBy("fyear", "period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("fyear", "period")
    )


# --------------------------------------------------------------------
# ISO week boundaries
# --------------------------------------------------------------------

@query(
    "iso_week_boundaries",
    oracle="""
    WITH spine AS (
      SELECT CAST(x AS DATE) AS d
      FROM unnest(generate_series(DATE '1996-12-26',
                                  DATE '1997-01-08',
                                  to_days(1))) AS u(x)
      UNION ALL
      SELECT CAST(x AS DATE) AS d
      FROM unnest(generate_series(DATE '1999-12-26',
                                  DATE '2000-01-08',
                                  to_days(1))) AS u(x)
    )
    SELECT d, CAST(weekofyear(d) AS BIGINT) AS iso_week,
           CAST(CASE WHEN month(d) = 1 AND weekofyear(d) > 50
                     THEN year(d) - 1
                     WHEN month(d) = 12 AND weekofyear(d) = 1
                     THEN year(d) + 1
                     ELSE year(d) END AS BIGINT) AS iso_year,
           CAST(isodow(d) AS BIGINT) AS iso_dow
    FROM spine ORDER BY d
    """,
)
def iso_week_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 week semantics across year boundaries — the calendar
    trap where Dec 29 can be week 1 of NEXT year and Jan 2 week 53
    of the PREVIOUS one. A fixed two-window date spine (a week-53
    year and a week-52 year) pins weekofyear, the derived ISO year
    (Spark has no yearofweek-with-ISO-semantics builtin — the
    month/week CASE is the standard derivation, mirrored in the
    oracle), and the ISO day-of-week (Monday=1; Spark dayofweek is
    Sunday=1, so the shift formula is part of the surface)."""
    spine = spark.sql(
        """
        SELECT explode(sequence(DATE'1996-12-26', DATE'1997-01-08',
                                interval 1 day)) AS d
        UNION ALL
        SELECT explode(sequence(DATE'1999-12-26', DATE'2000-01-08',
                                interval 1 day)) AS d
        """
    )
    return spine.select(
        "d",
        F.weekofyear("d").cast("long").alias("iso_week"),
        F.expr(
            "CAST(CASE WHEN month(d) = 1 AND weekofyear(d) > 50"
            " THEN year(d) - 1"
            " WHEN month(d) = 12 AND weekofyear(d) = 1"
            " THEN year(d) + 1"
            " ELSE year(d) END AS BIGINT)"
        ).alias("iso_year"),
        F.expr(
            "CAST(((dayofweek(d) + 5) % 7) + 1 AS BIGINT)"
        ).alias("iso_dow"),
    ).orderBy("d")


# --------------------------------------------------------------------
# weekday seasonality index
# --------------------------------------------------------------------

_WD_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, dayofweek(ts) + 1 AS dow,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
per AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS n_events
  FROM daily GROUP BY dow),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS all_days,
         CAST(sum(c) AS BIGINT) AS all_events
  FROM daily)
SELECT dow, n_days, n_events,
       CAST(n_events * all_days * 1000
            // (n_days * all_events) AS BIGINT) AS index_permille
FROM per, tot ORDER BY dow
"""


@query("weekday_seasonality_index", oracle=_WD_ORACLE)
def weekday_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-weekday load index: mean daily event count for the weekday
    over the global mean daily count, in exact integer permille
    ((T_d·D·1000) div (D_d·T)) — the day-of-week profile a pipeline
    checks before choosing time-based train/eval splits. Spark's
    dayofweek is 1=Sunday while DuckDB's is 0=Sunday (the standing
    trap) — the oracle shifts by +1. Two tiny aggregations over the
    daily rollup; the rollup itself is the only row-scale pass."""
    e = Catalog(spark, sf_dir).events
    daily = e.groupBy(
        F.to_date("ts").alias("d"),
        F.dayofweek("ts").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("c"))
    # r13 subtree-sweep fix: the global totals re-ran the daily
    # rollup; they are the column sums of the 7-row weekday table —
    # checkpoint it and derive them, one rollup pass total.
    per = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("n_events"),
    ).localCheckpoint()
    tot = per.agg(
        F.sum("n_days").alias("all_days"),
        F.sum("n_events").alias("all_events"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            F.col("n_events").cast("long").alias("n_events"),
            F.expr(
                "CAST(n_events * all_days * 1000"
                " div (n_days * all_events) AS BIGINT)"
            ).alias("index_permille"),
        )
        .orderBy("dow")
    )


# --------------------------------------------------------------------
# additive seasonal decomposition
# --------------------------------------------------------------------

_SEAS_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         dayofweek(o_orderdate) + 1 AS dow,
         CAST(sum({ORDER_CENTS}) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2),
seq AS (
  SELECT d, dow, c, row_number() OVER (ORDER BY d) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS nd
  FROM daily),
tr AS (
  SELECT a.d, a.dow, a.c,
         CAST(sum(b.c) * 1000 // 7 AS BIGINT) AS trend_milli
  FROM seq a JOIN seq b ON b.rn BETWEEN a.rn - 3 AND a.rn + 3
  WHERE a.rn >= 4 AND a.rn <= a.nd - 3
  GROUP BY a.d, a.dow, a.c),
eff AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c * 1000 - trend_milli)
              // count(*) AS BIGINT) AS effect_millicents
  FROM tr GROUP BY dow)
SELECT dow, n_days, effect_millicents FROM eff ORDER BY dow
"""


@query("seasonal_decompose_additive", oracle=_SEAS_ORACLE)
def seasonal_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily revenue: trend =
    centered 7-day moving average (only days with a FULL window —
    edge days are excluded, not padded), weekday effect = mean
    detrended value per day-of-week. Everything is exact integer
    millicents (the MA is sum·1000 div 7), so the decomposition is
    replayable to the last unit; the band self-join runs on the
    daily rollup. The weekday effects are what a pipeline subtracts
    before comparing corpus snapshots taken on different
    weekdays."""
    o = Catalog(spark, sf_dir).orders
    from pyspark.sql.window import Window

    # r12 scan-count fix: the row-number sequence, both band-join
    # sides and the day count each re-ran the daily rollup from
    # parquet (4 scans measured); the days-sized rollup is
    # checkpointed once
    daily = (
        o.groupBy(
            F.to_date("o_orderdate").alias("d"),
            F.dayofweek("o_orderdate").alias("dow"),
        )
        .agg(F.sum(F.expr(ORDER_CENTS)).cast("long").alias("c"))
        .localCheckpoint()
    )
    seq = daily.select(
        "d",
        "dow",
        "c",
        F.row_number().over(Window.orderBy("d")).alias("rn"),
    ).crossJoin(
        F.broadcast(daily.agg(F.count(F.lit(1)).cast("long").alias("nd")))
    )
    a = seq.alias("a")
    b = seq.alias("b")
    tr = (
        a.join(
            b,
            (F.col("b.rn") >= F.col("a.rn") - 3)
            & (F.col("b.rn") <= F.col("a.rn") + 3),
        )
        .where(
            (F.col("a.rn") >= 4) & (F.col("a.rn") <= F.col("a.nd") - 3)
        )
        .groupBy(
            F.col("a.d").alias("d"),
            F.col("a.dow").alias("dow"),
            F.col("a.c").alias("c"),
        )
        .agg(
            F.expr("CAST(sum(b.c) * 1000 div 7 AS BIGINT)").alias(
                "trend_milli"
            )
        )
    )
    return (
        tr.groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.expr(
                "CAST(sum(c * 1000 - trend_milli) div count(*)"
                " AS BIGINT)"
            ).alias("effect_millicents"),
        )
        .orderBy("dow")
    )


# --------------------------------------------------------------------
# Mann-Kendall trend test
# --------------------------------------------------------------------

_MK_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum({ORDER_CENTS}) AS BIGINT) AS x
  FROM orders GROUP BY 1),
pairs AS (
  SELECT CASE WHEN b.x > a.x THEN 1
              WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON b.d > a.d),
s AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs),
n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM daily),
ties AS (
  SELECT coalesce(CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
             AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY x HAVING count(*) > 1)),
v AS (
  SELECT nd, s_stat, n_pairs,
         nd * (nd - 1) * (2 * nd + 5) - tie_term AS var18
  FROM s, n, ties)
SELECT nd AS n_days, s_stat, n_pairs, var18,
       (s_stat - CASE WHEN s_stat > 0 THEN 1
                      WHEN s_stat < 0 THEN -1 ELSE 0 END)
         / sqrt(var18 / 18.0) AS z_stat
FROM v
"""


@query("mann_kendall_trend", oracle=_MK_ORACLE)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on daily revenue: S = sum
    over day pairs i<j of sign(x_j − x_i) with tie-corrected variance, the
    standard monotone-drift alarm for a metric series. S, the pair
    count, and 18·Var are exact integers; the continuity-corrected Z
    is one closed-form double. The pair join runs on the DAILY
    rollup — days², not rows², so a 100 TB corpus still joins ~2.4k
    × 2.4k rows."""
    o = Catalog(spark, sf_dir).orders
    # r12 scan-count fix: both pair-join sides, the day count and the
    # tie term each re-ran the daily rollup from parquet (4 scans
    # measured); the days-sized rollup is checkpointed once
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(F.expr(ORDER_CENTS)).cast("long").alias("x"))
        .localCheckpoint()
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(b, F.col("b.d") > F.col("a.d")).select(
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    s = pairs.agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    v = (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .withColumn(
            "var18",
            F.expr("nd * (nd - 1) * (2 * nd + 5) - tie_term"),
        )
    )
    return v.select(
        F.col("nd").alias("n_days"),
        "s_stat",
        "n_pairs",
        "var18",
        F.expr(
            "(s_stat - CASE WHEN s_stat > 0 THEN 1"
            "               WHEN s_stat < 0 THEN -1 ELSE 0 END)"
            " / sqrt(var18 / 18.0)"
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------
# lag-k autocorrelation of the daily event-count series
# --------------------------------------------------------------------

_ACF_MAX_LAG = 7

_ACF_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
lags AS (SELECT CAST(range AS BIGINT) + 1 AS k
         FROM range({_ACF_MAX_LAG})),
pairs AS (
  SELECT l.k, a.c AS x, b.c AS y
  FROM lags l
  JOIN daily a ON true
  JOIN daily b ON b.d = a.d + CAST(l.k AS INTEGER)),
agg AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY k)
SELECT k AS lag, n AS n_pairs,
       CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS var_x_num,
       CAST(n * syy - sy * sy AS BIGINT) AS var_y_num,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))),
             6) AS acf
FROM agg ORDER BY lag
"""


@query("autocorr_daily_events", oracle=_ACF_ORACLE)
def autocorr_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily event-count series — the
    seasonality probe run before choosing a training-data time split.
    All cross-aggregation accumulators (n, Σx, Σy, Σxy, Σx², Σy² per
    lag) are exact int64 (counts are integers), so the aggregation is
    order-independent under any partitioning; the Pearson quotient and
    its two sqrt() calls are the only float ops and are applied to
    bit-identical integers on both engines in the same expression
    shape (sqrt(a)·sqrt(b), NOT sqrt(a·b) — the product can overflow
    int64 first). The daily series is one date-keyed count; the
    lag join is date-equi against a 7-row literal lag grid (broadcast
    both at scale: the series has one row per day, ~36.5k rows per
    century — the join is dimension-sized no matter how large the
    event table is). Calendar-gap days drop pairs on both engines
    identically (inner date-equi join). int64 bounds the exact sums
    to ~1e9 events/day over a century — beyond that, promote the
    accumulators to double (documented)."""
    e = Catalog(spark, sf_dir).events
    # r13 subtree-sweep fix: both sides of the lag self-join re-ran
    # the daily count from parquet. The series is date-sized (one row
    # per day) — checkpoint it once; both join sides read it.
    daily = (
        e.select(F.col("ts").cast("date").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").alias("k")
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("c").alias("x")
    )
    bseries = daily.select(
        F.col("d").alias("db"), F.col("c").alias("y")
    )
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            bseries,
            F.col("db")
            == F.date_add(F.col("da"), F.col("k").cast("int")),
        )
        .select("k", "x", "y")
    )
    agg = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return (
        agg.select(
            F.col("k").alias("lag"),
            F.col("n").alias("n_pairs"),
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("long")
            .alias("cov_num"),
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("long")
            .alias("var_x_num"),
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            .cast("long")
            .alias("var_y_num"),
        )
        .withColumn(
            "acf",
            F.round(
                F.col("cov_num").cast("double")
                / (
                    F.sqrt(F.col("var_x_num").cast("double"))
                    * F.sqrt(F.col("var_y_num").cast("double"))
                ),
                6,
            ),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------
# binary-segmentation changepoint
# --------------------------------------------------------------------

#: daily revenue is folded to $100 units (cents div 10000) so the
#: squared gain numerator (S_k·n)² stays far inside int64: at sf0.1
#: S_n ≈ 3e5 units over n ≈ 31 days → (1e7)² ≈ 1e14; safe to ~sf10,
#: switch the fold to DECIMAL(38,0)/HUGEINT beyond (the PCA idiom).
BINSEG_TOP = 3

_BINSEG_ORACLE = f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) // 10000
              AS BIGINT) AS v
  FROM events GROUP BY 1),
seq AS (
  SELECT d, v,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
         CAST(sum(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS sk
  FROM daily),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sn
  FROM daily),
gain AS (
  SELECT d, k, sk, n, sn,
         CAST((sk * n - k * sn) * (sk * n - k * sn)
              // (k * (n - k) * n) AS BIGINT) AS gain
  FROM seq CROSS JOIN tot WHERE k < n)
SELECT d AS split_date, k AS split_k, gain,
       CAST(sk // k AS BIGINT) AS left_mean_units,
       CAST((sn - sk) // (n - k) AS BIGINT) AS right_mean_units
FROM gain ORDER BY gain DESC, split_date LIMIT {BINSEG_TOP}
"""


@query("binseg_changepoint_gain", oracle=_BINSEG_ORACLE)
def binseg_changepoint_gain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact binary-segmentation changepoint scan over the daily
    revenue series: for every candidate split k the between-segment
    variance-reduction gain  (S_k·n − k·S_n)² / (k·(n−k)·n)  — the
    quantity CUSUM/binseg maximizes — is computed entirely in int64
    ($100 revenue units, see BINSEG module constant), so the argmax
    is an integer comparison that cannot reorder near-tied splits
    across engines (a float variance would). The cumulative window
    is global but runs over the DAY grain — bounded by corpus span
    (≈31 rows), not corpus size; the daily rollup before it is the
    only full-data pass. Top {BINSEG_TOP} splits with segment means,
    deterministic (gain, date) order."""
    ev = Catalog(spark, sf_dir).events
    # r13 subtree-sweep fix: the cumulative sequence and the totals
    # both re-ran the daily rollup from parquet. Date-sized —
    # checkpoint once.
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("d")
    ).agg(
        F.expr(
            "cast(sum(cast(round(value * 100) as bigint)) div 10000"
            " as bigint)"
        ).alias("v")
    ).localCheckpoint()
    w = Window.orderBy("d")
    seq = daily.select(
        "d",
        "v",
        F.row_number().over(w).cast("long").alias("k"),
        F.sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("sk"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sn"),
    )
    return (
        seq.crossJoin(F.broadcast(tot))
        .where(F.col("k") < F.col("n"))
        .select(
            F.col("d").alias("split_date"),
            F.col("k").alias("split_k"),
            F.expr(
                "cast((sk * n - k * sn) * (sk * n - k * sn)"
                " div (k * (n - k) * n) as bigint)"
            ).alias("gain"),
            F.expr("cast(sk div k as bigint)").alias("left_mean_units"),
            F.expr("cast((sn - sk) div (n - k) as bigint)").alias(
                "right_mean_units"
            ),
        )
        .orderBy(F.desc("gain"), "split_date")
        .limit(BINSEG_TOP)
    )


# --------------------------------------------------------------------
# Fano factor burstiness
# --------------------------------------------------------------------

_FANO_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(c * c) AS BIGINT) AS scc
  FROM daily GROUP BY event_type)
SELECT event_type, nd AS n_days, sc AS n_events,
       ((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / nd)
        / (nd - 1)) / (CAST(sc AS DOUBLE) / nd) AS fano_factor
FROM s ORDER BY event_type
"""


@query("burstiness_fano_factor", oracle=_FANO_ORACLE)
def burstiness_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (sample variance / mean) of the daily event-count
    series per type — the burstiness dial: ≈1 is Poisson-like
    arrivals, >1 means bursts (and a skew hazard for
    time-partitioned ingestion). One rollup to days×types, exact
    (n, Σc, Σc²) integers, one closed-form double."""
    e = Catalog(spark, sf_dir).events
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    return s.select(
        "event_type",
        F.col("nd").alias("n_days"),
        F.col("sc").alias("n_events"),
        F.expr(
            "((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / nd)"
            " / (nd - 1)) / (CAST(sc AS DOUBLE) / nd)"
        ).alias("fano_factor"),
    ).orderBy("event_type")


_WT_ORACLE = """
WITH w AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1)
SELECT ws AS window_start,
       ws + INTERVAL 1 HOUR AS window_end,
       ws + INTERVAL 1 HOUR - INTERVAL 1 MICROSECOND AS event_time,
       n
FROM w ORDER BY window_start
"""


@query("window_time_semantics", oracle=_WT_ORACLE)
def window_time_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """window_time() on tumbling hourly windows: the accessor returns
    the window's INCLUSIVE end (end − 1 µs) — the event-time value a
    chained windowed aggregation must group on (grouping on
    window.end instead silently lands every row in the NEXT window —
    the off-by-one-slot bug stream_chained_windows guards against in
    streaming; this is its batch twin, oracled per hour). One
    tumbling-window aggregation over events, bounded output (corpus
    hours)."""
    ev = Catalog(spark, sf_dir).events
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.expr("window_time(w)").alias("event_time"),
        "n",
    ).orderBy("window_start")

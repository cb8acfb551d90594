"""Windows and OLAP domain.

Window functions and frames (ranking, running, moving, range frames,
islands), grouping sets / ROLLUP / CUBE, pivots, materialized-view
rollups and the business rollups built on them (ABC, RFM, waterfall,
YoY, cohort matrices, allocations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import ORDER_CENTS, Catalog
from hdsp_hive_release_src_spark.operators.materialize import persist_fact_rows
from hdsp_hive_release_src_spark.operators.ranking import range_prefix_sum
from hdsp_hive_release_src_spark.registry import query
from hdsp_hive_release_src_spark.sources.io import fresh_managed_table


# ---------------------------------------------------------------- windows

@query(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_orderpriority, o_orderkey, round(o_totalprice,2) AS o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_orderpriority, rn
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority — the canonical top-K-per-group
    window; single shuffle on the partition key."""
    o = Catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
        .orderBy("o_orderpriority", "rn")
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING), 2) AS running_spend
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer cumulative spend (explicit ROWS frame on both
    engines)."""
    o = Catalog(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "window_lag_delta",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                lag(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between a customer's consecutive orders (lag); NULL first."""
    o = Catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("days_since_prev"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "window_moving_avg",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg
    FROM events
    ORDER BY user_id, event_id
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-row sliding mean of event values per user."""
    ev = Catalog(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("mov_avg"),
    ).orderBy("user_id", "event_id")


@query(
    "window_ntile",
    oracle="""
    SELECT c_custkey,
           CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT)
               AS balance_quartile
    FROM customer
    ORDER BY c_custkey
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing by account balance — distributed exact ntile
    (operators/ranking.py): approx-percentile range split + per-range
    rank + exact offsets, replicating SQL ntile bit-for-bit with NO
    single-partition window (customer grows with SF; a global ORDER BY
    window is a one-task sort at 100 TB). The oracle stays the plain
    ntile(4) window — semantics are identical by construction."""
    from hdsp_hive_release_src_spark.operators.ranking import exact_ntile

    c = Catalog(spark, sf_dir).customer
    return (
        exact_ntile(
            c.select("c_custkey", "c_acctbal"),
            "c_acctbal",
            ["c_custkey"],
            n_buckets=4,
            descending=True,
            bucket_col="balance_quartile",
        )
        .select("c_custkey", "balance_quartile")
        .orderBy("c_custkey")
    )


@query(
    "range_frame_numeric",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice, 2) AS price,
           CAST(count(*) OVER w AS BIGINT) AS n_near,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
                AS BIGINT) AS near_cents
    FROM orders WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING)
    ORDER BY o_orderkey
    """,
)
def range_frame_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE frame (±10000 of the current VALUE, not ±N rows) —
    the price-band peer-group window the ROWS-frame queries can't
    express: each order is compared against all orders of similar
    price within its priority class. Value-range frames need no
    tiebreak to stay deterministic (peers are defined by value
    equality) — the property that distinguishes RANGE from ROWS. The
    in-frame money total rides as integer cents: a windowed double
    avg rounds differently across engines' summation orders."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 2000)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, 10000)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_near"),
        F.sum(cents).over(w).cast("long").alias("near_cents"),
    ).orderBy("o_orderkey")


@query(
    "ratio_to_report",
    oracle="""
    WITH seg AS (
      SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment)
    SELECT c_mktsegment, revenue,
           round(revenue / sum(revenue) OVER (), 6) AS share,
           round(revenue / max(revenue) OVER (), 6) AS vs_best
    FROM seg ORDER BY c_mktsegment
    """,
)
def ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report — THE reporting idiom (segment share of total,
    index vs the best segment) via an empty-frame window over the
    AGGREGATED result: the whole-table window runs on 5 rows, never
    the fact table, which is the only scale-sane place for a global
    window."""
    cat = Catalog(spark, sf_dir)
    seg = (
        cat.orders.join(
            cat.customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy("c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy()
    return seg.select(
        "c_mktsegment",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias(
            "share"
        ),
        F.round(F.col("revenue") / F.max("revenue").over(w), 6).alias(
            "vs_best"
        ),
    ).orderBy("c_mktsegment")


@query(
    "window_sliding_hop",
    oracle="""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    x AS (
      SELECT ts, value,
             to_timestamp((epoch_us(ts) // 43200000000) * 43200)
                 AS floor12
      FROM e),
    cand AS (
      SELECT ts, value, CAST(floor12 AS TIMESTAMP) AS w_start FROM x
      UNION ALL
      SELECT ts, value,
             CAST(floor12 - INTERVAL 12 HOUR AS TIMESTAMP) FROM x)
    SELECT w_start, count(*) AS n, round(sum(value), 2) AS total_value
    FROM cand
    WHERE ts >= w_start AND ts < w_start + INTERVAL 24 HOUR
    GROUP BY w_start ORDER BY w_start
    """,
)
def window_sliding_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 1-day windows every 12 hours — each
    event lands in exactly two epoch-aligned windows (Spark's
    F.window(ts, '1 day', '12 hours'), the batch twin of the streaming
    hop). The oracle replays the assignment arithmetic explicitly."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 day", "12 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n", "total_value")
        .orderBy("w_start")
    )


@query(
    "window_extended",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           first_value(o_orderkey) OVER wf AS first_key,
           last_value(o_orderkey) OVER wf AS last_key,
           nth_value(o_orderkey, 2) OVER wf AS second_key
    FROM orders WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended window-function family: percent_rank / cume_dist /
    first_value / last_value / nth_value, with an explicit full-frame
    spec (default frames differ across engines — never rely on them)."""
    o = Catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.where(F.col("o_custkey") < 200)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
            F.first("o_orderkey").over(wf).alias("first_key"),
            F.last("o_orderkey").over(wf).alias("last_key"),
            F.nth_value("o_orderkey", 2).over(wf).alias("second_key"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "window_rank_variants",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY round(o_totalprice / 10000), o_orderkey
               ) AS BIGINT) AS rn
    FROM orders WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY round(o_totalprice / 10000))
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank vs row_number on a deliberately tie-heavy
    key (price bucketed to 10k): rank leaves gaps after ties,
    dense_rank doesn't, row_number needs the explicit tiebreak to stay
    deterministic — the classic three-way semantic distinction."""
    o = Catalog(spark, sf_dir).orders
    bucket = F.round(F.col("o_totalprice") / 10000)
    w = Window.partitionBy("o_custkey").orderBy(bucket)
    wd = Window.partitionBy("o_custkey").orderBy(bucket, "o_orderkey")
    return (
        o.where(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.row_number().over(wd).cast("long").alias("rn"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "window_ignore_nulls",
    oracle="""
    SELECT user_id, event_id,
           last_value(pv IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
              ROWS UNBOUNDED PRECEDING) AS last_purchase,
           lead(pv IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS next_purchase
    FROM (SELECT user_id, event_id, ts,
                 CASE WHEN event_type = 'purchase' THEN round(value, 2)
                 END AS pv
          FROM events WHERE user_id < 20)
    ORDER BY user_id, event_id
    """,
)
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI/Hive IGNORE NULLS window modifiers: last purchase value
    carried forward (last_value) and next purchase looked ahead (lead)
    across non-purchase gaps — the same SQL text runs on both engines.
    """
    Catalog(spark, sf_dir).events.createOrReplaceTempView(
        "win_events_src"
    )
    return spark.sql(
        """
        SELECT user_id, event_id,
               last_value(pv) IGNORE NULLS OVER
                 (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS last_purchase,
               lead(pv) IGNORE NULLS OVER
                 (PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_purchase
        FROM (SELECT user_id, event_id, ts,
                     CASE WHEN event_type = 'purchase'
                          THEN round(value, 2) END AS pv
              FROM win_events_src WHERE user_id < 20)
        ORDER BY user_id, event_id
        """
    )


@query(
    "windowed_distinct_count",
    oracle="""
    WITH base AS (
      SELECT o_custkey, o_orderkey, o_orderpriority
      FROM orders WHERE o_custkey < 200)
    SELECT o_custkey, o_orderkey,
           CAST(count(DISTINCT o_orderpriority)
                OVER (PARTITION BY o_custkey) AS BIGINT)
               AS n_prio
    FROM base ORDER BY o_custkey, o_orderkey
    """,
)
def windowed_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) over a window — Spark rejects DISTINCT inside a
    window frame, so the engine must provide the classic equivalent:
    dense_rank over the value within the partition, then max(rank)
    broadcast back over the same window. Two window passes sharing ONE
    partitioning (single shuffle); DuckDB supports the frame natively,
    which makes it the perfect oracle for the rewrite's equivalence."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_custkey") < 200)
    wp = Window.partitionBy("o_custkey")
    dr = F.dense_rank().over(
        wp.orderBy("o_orderpriority")
    )
    return (
        o.select("o_custkey", "o_orderkey", dr.alias("_dr"))
        .select(
            "o_custkey",
            "o_orderkey",
            F.max("_dr").over(wp).cast("long").alias("n_prio"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "named_window_clause",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           round(sum(o_totalprice) OVER w, 2) AS run_total,
           round(max(o_totalprice) OVER w, 2) AS run_max
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def named_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL WINDOW clause: one named spec shared by several window
    functions — beyond readability, a single named window guarantees
    Catalyst plans ONE sort/partition pass for all of them (inline
    specs rely on spec-equality detection). Identical clause syntax
    both engines."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "winclause_orders_src"
    )
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               round(sum(o_totalprice) OVER w, 2) AS run_total,
               round(max(o_totalprice) OVER w, 2) AS run_max
        FROM winclause_orders_src
        WHERE o_custkey < 200
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey
        """
    )


@query(
    "streak_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      FROM events),
    r AS (
      SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM d),
    g AS (
      SELECT user_id, day - CAST(rn AS INTEGER) AS grp,
             count(*) AS streak_len
      FROM r GROUP BY user_id, day - CAST(rn AS INTEGER))
    SELECT user_id,
           max(streak_len) AS max_streak,
           count(*) AS n_streaks,
           CAST(sum(streak_len) AS BIGINT) AS active_days
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-day activity streaks per user via
    the date-minus-row_number grouping trick. Events reduce to distinct
    (user, day) FIRST, so the window input is tiny regardless of raw
    event volume — the 100 TB-safe ordering of the two shuffles."""
    ev = Catalog(spark, sf_dir).events
    d = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn("rn", F.row_number().over(w))
    g = (
        r.groupBy("user_id", F.date_sub("day", F.col("rn")).alias("grp"))
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.max("streak_len").alias("max_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.sum("streak_len").alias("active_days"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------
# framed moving median
# --------------------------------------------------------------------

_MOVMED_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum({ORDER_CENTS}) AS BIGINT) AS total_cents
  FROM orders GROUP BY 1)
SELECT day, total_cents,
       median(CAST(total_cents AS DOUBLE))
         OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         AS med7
FROM daily ORDER BY day
"""


@query("moving_median_window", oracle=_MOVMED_ORACLE)
def moving_median_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated median as a FRAMED window aggregate: trailing
    7-day median of daily revenue — the robust trend line the mean
    queries can't give. Median of ≤7 exact ints interpolates to .0/.5
    exactly on both engines (DuckDB's DECIMAL-median discreteness
    trap is dodged by the DOUBLE cast — the documented parity rule).
    Spark disallows a frame on median() itself
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC) — percentile(x, 0.5)
    is the frame-capable equivalent with the same interpolation.
    WindowExec keeps only the 7-row frame per partition slice; the
    series is the daily rollup, so the sort is thousands of rows at
    any corpus scale."""
    o = Catalog(spark, sf_dir).orders
    from pyspark.sql.window import Window

    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.sum(F.expr(ORDER_CENTS)).cast("long").alias("total_cents"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "total_cents",
        F.expr("percentile(CAST(total_cents AS DOUBLE), 0.5)")
        .over(w)
        .alias("med7"),
    ).orderBy("day")


# --------------------------------------------------------------------
# EWMA with power-of-two weights
# --------------------------------------------------------------------

_EWMA_SPAN = 20  # frame: current day + 19 preceding

_EWMA_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
seq AS (
  SELECT d, cents,
         row_number() OVER (ORDER BY d) AS rn
  FROM daily),
pairs AS (
  SELECT a.d, a.cents AS day_cents,
         sum(b.cents * (CAST(1 AS BIGINT)
                        << ({_EWMA_SPAN} - 1 - (a.rn - b.rn))))
             AS num,
         sum(CAST(1 AS BIGINT)
             << ({_EWMA_SPAN} - 1 - (a.rn - b.rn))) AS den
  FROM seq a JOIN seq b
    ON b.rn BETWEEN a.rn - {_EWMA_SPAN - 1} AND a.rn
  GROUP BY a.d, a.cents)
SELECT d AS day, day_cents,
       CAST(num * 1000 // den AS BIGINT) AS ewma_millicents
FROM pairs ORDER BY day
"""


@query("ewma_halving_window", oracle=_EWMA_ORACLE)
def ewma_halving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA of daily revenue with α = 1/2 over a 20-day frame. The
    halving decay makes every weight an exact power of two
    (2^19 … 2^0), so the weighted numerator and denominator are exact
    int64 and the EWMA is one integer ratio in millicents — the float
    recursion s_i = α·x + (1−α)·s_{i−1} (order-sensitive, graded
    defect class) never appears. Implemented as a 20-wide band
    self-join over the DAILY rollup: the 20× expansion touches one
    row per day, never raw orders, so at 100 TB this is a few
    thousand rows regardless of corpus size."""
    o = Catalog(spark, sf_dir).orders
    from pyspark.sql.window import Window

    daily = o.groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(F.sum(F.expr(ORDER_CENTS)).cast("long").alias("cents"))
    # r13 subtree-sweep fix: both band-join sides re-ran the daily
    # rollup + row_number from parquet. The sequenced series is
    # date-sized — checkpoint once, join reads it twice.
    seq = daily.select(
        "d",
        "cents",
        F.row_number().over(Window.orderBy("d")).alias("rn"),
    ).localCheckpoint()
    a = seq.alias("a")
    b = seq.alias("b")
    w = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"{_EWMA_SPAN} - 1 - (a.rn - b.rn))"
    )
    pairs = (
        a.join(
            b,
            (F.col("b.rn") >= F.col("a.rn") - (_EWMA_SPAN - 1))
            & (F.col("b.rn") <= F.col("a.rn")),
        )
        .groupBy(
            F.col("a.d").alias("day"),
            F.col("a.cents").alias("day_cents"),
        )
        .agg(
            F.sum(F.col("b.cents") * w).alias("num"),
            F.sum(w).alias("den"),
        )
    )
    return pairs.select(
        "day",
        "day_cents",
        F.expr("CAST(num * 1000 div den AS BIGINT)").alias(
            "ewma_millicents"
        ),
    ).orderBy("day")


# --------------------------------------------------------------------
# clamped running inventory (cumsum with a floor at zero)
# --------------------------------------------------------------------

_INV_ORACLE = """
WITH mv AS (
  SELECT l_partkey AS part,
         CASE WHEN l_returnflag = 'R'
              THEN CAST(l_quantity AS BIGINT)
              ELSE -CAST(l_quantity AS BIGINT) END AS delta,
         l_shipdate, l_orderkey, l_linenumber
  FROM lineitem WHERE l_partkey <= 100),
c AS (
  SELECT part, l_shipdate, l_orderkey, l_linenumber,
         CAST(sum(delta) OVER (
              PARTITION BY part
              ORDER BY l_shipdate, l_orderkey, l_linenumber
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM mv),
r AS (
  SELECT part, cum,
         CAST(min(cum) OVER (
              PARTITION BY part
              ORDER BY l_shipdate, l_orderkey, l_linenumber
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS runmin
  FROM c),
bal AS (SELECT part, cum - least(runmin, 0) AS s FROM r)
SELECT part,
       CAST(count(*) AS BIGINT) AS movements,
       CAST(max(s) AS BIGINT) AS peak_balance,
       CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS stockout_points
FROM bal GROUP BY part ORDER BY part
"""


@query("clamped_running_inventory", oracle=_INV_ORACLE)
def clamped_running_inventory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Running stock balance that can never go below zero (receipts =
    returned lines, issues = everything else). The naive form is a
    sequential recursion S_t = max(0, S_{t-1} + δ_t) — per-row
    iteration that doesn't distribute. The prefix identity
    S_t = cum_t − min(0, min_{k≤t} cum_k) turns it into two stacked
    windows (cumulative sum, then running min of its clamped value),
    BOTH partitioned by part — each part's history sorts
    independently, so the plan is shuffle-bounded by the partition
    key and survives any corpus size without a single-partition
    window or applyInPandas. Output is the per-part movement count,
    peak balance, and number of floor hits (stockout points), exact
    int64 end-to-end."""
    li = Catalog(spark, sf_dir).lineitem.where(F.col("l_partkey") <= 100)
    mv = li.select(
        F.col("l_partkey").alias("part"),
        F.when(
            F.col("l_returnflag") == "R",
            F.col("l_quantity").cast("long"),
        )
        .otherwise(-F.col("l_quantity").cast("long"))
        .alias("delta"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = (
        Window.partitionBy("part")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = mv.select(
        "part",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.sum("delta").over(w).cast("long").alias("cum"),
    )
    r = c.select(
        "part",
        "cum",
        F.min("cum").over(w).cast("long").alias("runmin"),
    )
    bal = r.select(
        "part",
        (F.col("cum") - F.least(F.col("runmin"), F.lit(0))).alias("s"),
    )
    return (
        bal.groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("long").alias("movements"),
            F.max("s").cast("long").alias("peak_balance"),
            F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
            .cast("long")
            .alias("stockout_points"),
        )
        .orderBy("part")
    )


@query(
    "sequence_gap_detection",
    oracle="""
    WITH ids AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_orderkey < 3000 AND o_orderkey % 97 <> 0),
    gaps AS (
      SELECT k, lead(k) OVER (ORDER BY k) AS next_k FROM ids)
    SELECT k AS gap_after,
           CAST(next_k - k - 1 AS BIGINT) AS missing
    FROM gaps WHERE next_k - k > 1
    ORDER BY gap_after
    """,
)
def sequence_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap detection: holes in a supposedly-contiguous id
    space (the load-completeness audit — a gap means a batch was
    dropped). lead() over the ordered distinct ids emits one row per
    gap with its width; a single global window over the DISTINCT key
    set (small), never the fact rows. Known holes are punched (every
    97th key dropped) so the detector provably FIRES — a gap query
    that returns zero rows proves nothing."""
    o = Catalog(spark, sf_dir).orders.where(
        (F.col("o_orderkey") < 3000) & (F.col("o_orderkey") % 97 != 0)
    )
    ids = o.select(F.col("o_orderkey").alias("k")).distinct()
    w = Window.orderBy("k")
    gaps = ids.select("k", F.lead("k").over(w).alias("next_k"))
    return (
        gaps.where(F.col("next_k") - F.col("k") > 1)
        .select(
            F.col("k").alias("gap_after"),
            (F.col("next_k") - F.col("k") - 1)
            .cast("long")
            .alias("missing"),
        )
        .orderBy("gap_after")
    )


@query(
    "order_fulfillment_lag",
    oracle="""
    WITH lag AS (
      SELECT o.o_orderpriority,
             CAST(CAST(l.l_shipdate AS DATE)
                  - CAST(o.o_orderdate AS DATE) AS BIGINT) AS lag_days
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(min(lag_days) AS BIGINT) AS min_lag,
           round(quantile_cont(CAST(lag_days AS DOUBLE), 0.5), 2)
               AS median_lag,
           round(quantile_cont(CAST(lag_days AS DOUBLE), 0.95), 2)
               AS p95_lag,
           CAST(max(lag_days) AS BIGINT) AS max_lag
    FROM lag GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def order_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag distribution per priority class — the SLA
    report every fulfillment warehouse runs (does URGENT actually
    ship faster?): exact median/p95 of (shipdate − orderdate) days.
    One fact-fact join on orderkey, then per-priority exact
    percentiles (bounded groups — 5 priorities — so the per-group
    sort is safe at any SF; unbounded keys would take
    percentile_approx)."""
    cat = Catalog(spark, sf_dir)
    lag = (
        cat.orders.join(
            cat.lineitem,
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            "o_orderpriority",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).cast("long").alias("lag_days"),
        )
    )
    lag.createOrReplaceTempView("fulfillment_lag_src")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_lines,
               CAST(min(lag_days) AS BIGINT) AS min_lag,
               round(percentile_cont(0.5) WITHIN GROUP
                     (ORDER BY CAST(lag_days AS DOUBLE)), 2)
                   AS median_lag,
               round(percentile_cont(0.95) WITHIN GROUP
                     (ORDER BY CAST(lag_days AS DOUBLE)), 2)
                   AS p95_lag,
               CAST(max(lag_days) AS BIGINT) AS max_lag
        FROM fulfillment_lag_src
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


# --------------------------------------------- grouping sets / rollup / cube

@query(
    "rollup_agg",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP with portable COALESCE cell labels."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "cube_agg",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


@query(
    "grouping_sets_agg",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(CAST(year(l_shipdate) AS VARCHAR), 'ALL') AS ship_year,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (year(l_shipdate)))
    ORDER BY returnflag, ship_year
    """,
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — by flag and, separately, by ship year."""
    li = Catalog(spark, sf_dir).lineitem
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(CAST(year(l_shipdate) AS STRING), 'ALL') AS ship_year,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (year(l_shipdate)))
        ORDER BY returnflag, ship_year
        """
    )


# ----------------------------------------------------- pivot / unpivot

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@query(
    "pivot_orders",
    oracle="""
    SELECT o_orderstatus,
           count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent,
           count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS high,
           count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium,
           count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END)
               AS notspec,
           count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS low
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts status × priority. Explicit value list keeps
    the output schema static (required for scale: no driver-side
    distinct scan to discover columns)."""
    o = Catalog(spark, sf_dir).orders
    names = ["urgent", "high", "medium", "notspec", "low"]
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    sel = [F.col("o_orderstatus")] + [
        F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(n)
        for p, n in zip(_PRIORITIES, names)
    ]
    return piv.select(*sel).orderBy("o_orderstatus")


@query(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS value
    FROM part
    ORDER BY p_partkey, measure
    """,
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT via stack() — wide part measures to long form."""
    p = Catalog(spark, sf_dir).part
    return (
        p.select(
            "p_partkey",
            F.expr(
                "stack(2, 'size', CAST(p_size AS DOUBLE), "
                "'retailprice', p_retailprice) AS (measure, value)"
            ),
        )
        .orderBy("p_partkey", "measure")
    )


@query(
    "histogram_bins",
    oracle="""
    SELECT CAST(floor(l_quantity / 5) AS BIGINT) AS bin,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS bin_revenue
    FROM lineitem GROUP BY bin ORDER BY bin
    """,
)
def histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (width-bucket style binning)."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy(
            F.floor(F.col("l_quantity") / 5).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("bin_revenue"),
        )
        .orderBy("bin")
    )


@query(
    "conditional_agg",
    oracle="""
    SELECT n_name,
           count(CASE WHEN c_acctbal > 0 THEN 1 END) AS n_positive,
           count(CASE WHEN c_acctbal <= 0 THEN 1 END) AS n_nonpositive,
           round(avg(CASE WHEN c_acctbal > 0 THEN c_acctbal END), 4)
               AS avg_positive_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN inside aggregates (filtered aggregation)."""
    cat = Catalog(spark, sf_dir)
    pos = F.when(F.col("c_acctbal") > 0, 1)
    neg = F.when(F.col("c_acctbal") <= 0, 1)
    return (
        cat.customer.join(
            F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count(pos).alias("n_positive"),
            F.count(neg).alias("n_nonpositive"),
            F.round(
                F.avg(F.when(F.col("c_acctbal") > 0, F.col("c_acctbal"))), 4
            ).alias("avg_positive_bal"),
        )
        .orderBy("n_name")
    )


@query(
    "histogram_equi_depth",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                 AS bucket
      FROM orders)
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM ranked GROUP BY bucket ORDER BY bucket
    """,
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (ntile deciles: equal row counts, derived
    boundaries) — the stats histogram optimizers keep, vs
    histogram_bins' equi-WIDTH buckets. The orderkey tiebreak pins
    which duplicate price lands in which bucket so both engines cut
    identically. Deciles come from the distributed exact-ntile
    operator (approx-percentile range split + per-range rank + exact
    offsets — operators/ranking.py), NOT a global ORDER BY window:
    orders is a fact table, and a no-partition ntile is a one-task
    sort of the whole table at 100 TB. The oracle keeps the plain
    ntile(10) window — identical semantics by construction."""
    from hdsp_hive_release_src_spark.operators.ranking import exact_ntile

    o = Catalog(spark, sf_dir).orders
    return (
        exact_ntile(
            o.select("o_totalprice", "o_orderkey"),
            "o_totalprice",
            ["o_orderkey"],
            n_buckets=10,
        )
        .select("o_totalprice", F.col("bucket").cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "supplier_concentration_hhi",
    oracle="""
    WITH share AS (
      SELECT p.p_type, l.l_suppkey,
             sum(l.l_extendedprice) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_type, l.l_suppkey),
    tot AS (SELECT p_type, sum(rev) AS t FROM share GROUP BY p_type)
    SELECT share.p_type,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum((rev / t) * (rev / t)), 6) AS hhi
    FROM share JOIN tot ON share.p_type = tot.p_type
    GROUP BY share.p_type ORDER BY share.p_type
    """,
)
def supplier_concentration_hhi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier-concentration Herfindahl–Hirschman index per part
    type: Σ (supplier revenue share)² — the supply-chain-risk metric
    (1/n for perfectly spread, →1 for a sole supplier; antitrust
    review uses the same statistic ×10,000). Two aggregations: the
    (type, supplier) revenue cells, then per-type totals broadcast
    back for the share squaring — the fact table shuffles once on
    the composite key."""
    cat = Catalog(spark, sf_dir)
    share = (
        cat.lineitem.join(
            cat.part, F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    # r13 subtree-sweep fix: the per-type total was a second aggregate
    # joined back, re-running the lineitem x part join. A
    # type-partitioned window computes it in the same pass.
    s = F.col("rev") / F.col("t")
    return (
        share.withColumn(
            "t", F.sum("rev").over(Window.partitionBy("p_type"))
        )
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum(s * s), 6).alias("hhi"),
        )
        .orderBy("p_type")
    )


@query(
    "grouping_id_agg",
    oracle="""
    SELECT CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT)
               AS gid,
           coalesce(o_orderpriority, 'ALL') AS prio,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    ORDER BY gid, prio, status
    """,
)
def grouping_id_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping_id() over GROUPING SETS — the bitmask that
    disambiguates "NULL because superaggregate" from "NULL in the
    data", which every cube-consuming BI layer keys on. Identical SQL
    both engines."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "gid_orders_src"
    )
    return spark.sql(
        """
        SELECT CAST(grouping_id(o_orderpriority, o_orderstatus)
                    AS BIGINT) AS gid,
               coalesce(o_orderpriority, 'ALL') AS prio,
               coalesce(o_orderstatus, 'ALL') AS status,
               count(*) AS n
        FROM gid_orders_src
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        ORDER BY gid, prio, status
        """
    )


@query(
    "decimal_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 4)))
                     AS DECIMAL(38, 4)) AS VARCHAR) AS sum_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 4))
                         * CAST(1 - l_discount AS DECIMAL(18, 4)))
                     AS DECIMAL(38, 8)) AS VARCHAR) AS sum_disc_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def decimal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation — the financial-correctness path.
    Unlike the double-typed queries (rounded before compare), these
    sums must match the oracle EXACTLY: decimal addition is associative
    so shuffle/combine order cannot change the result at any scale.
    Final sums surface as fixed-scale decimal STRINGS: a pandas bridge
    turns Spark decimals into Decimal objects but DuckDB decimals into
    float64, so comparing the exact textual form is the only encoding
    both engines render identically."""
    li = Catalog(spark, sf_dir).lineitem
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = (1 - F.col("l_discount")).cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(price)
            .cast("decimal(38,4)")
            .cast("string")
            .alias("sum_price"),
            F.sum(price * disc)
            .cast("decimal(38,8)")
            .cast("string")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "mv_auto_rewrite",
    oracle="""
    SELECT l_returnflag,
           CAST(date_trunc('quarter', l_shipdate) AS TIMESTAMP)
               AS quarter,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18, 4))
                 * CAST(1 - l_discount AS DECIMAL(18, 4))), 2) AS DOUBLE)
               AS revenue,
           count(*) AS n_items,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 4))
                 * CAST(1 - l_discount AS DECIMAL(18, 4))) AS DOUBLE)
                 / count(*), 4) AS avg_item_revenue,
           TRUE AS answered_from_mv
    FROM lineitem
    GROUP BY l_returnflag, quarter ORDER BY l_returnflag, quarter
    """,
)
def mv_auto_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOMATIC materialized-view rewrite — the Hive
    hive.materializedview.rewriting feature Spark lacks, supplied by
    operators/mv_rewrite.py: the query asks the resolver for a
    QUARTERLY aggregation over the BASE lineitem table without naming
    any MV; the resolver's rollup-containment check (requested keys ∈
    MV grouping cols or functional rollups of one; measures derivable
    from stored SUM/COUNT partials — avg included, rebuilt as
    SUM(sum)/SUM(count)) routes it to the registered MONTHLY MV.
    Decimal partials make the month→quarter re-aggregation exactly
    equal to the direct quarterly computation, which is what the
    base-table oracle checks. Tests additionally pin that the
    resolver picked the MV for this request and falls back to the
    base scan for a non-covered one (answered_from_mv carries the
    resolver's actual decision)."""
    from hdsp_hive_release_src_spark.operators.mv_rewrite import (
        GroupKey,
        Measure,
        MvDef,
        MvResolver,
    )

    cat = Catalog(spark, sf_dir)
    mv = "mv_auto_monthly"
    fresh_managed_table(spark, f"{mv}")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount")
    ).cast("decimal(18,4)")
    (
        cat.lineitem.groupBy(
            "l_returnflag",
            F.date_trunc("month", "l_shipdate").alias("month"),
        )
        .agg(
            F.sum(rev).alias("rev_sum"),
            F.count(F.lit(1)).alias("n_rows"),
            # non-null measure count — what avg derivation divides by
            # (n_rows would overcount if the measure had NULLs)
            F.count(rev).alias("rev_n"),
        )
        .write.mode("overwrite")
        .saveAsTable(mv)
    )
    resolver = MvResolver()
    resolver.register(
        MvDef(
            table=mv,
            base="lineitem",
            group_cols=("l_returnflag", "month"),
            sums={"revenue": "rev_sum"},
            count_col="n_rows",
            measure_counts={"revenue": "rev_n"},
        )
    )
    keys = [
        GroupKey("l_returnflag", "l_returnflag"),
        GroupKey(
            "quarter",
            "month",
            lambda c: F.date_trunc("quarter", c),
            base_src="l_shipdate",
            base_fn=lambda c: F.date_trunc("quarter", c),
        ),
    ]
    measures = [
        Measure("rev_raw", "sum", "revenue"),
        Measure("n_items", "count"),
        Measure("avg_raw", "avg", "revenue"),
    ]
    out, used = resolver.answer(
        spark,
        cat.lineitem,
        "lineitem",
        keys,
        measures,
        {"revenue": rev},
    )
    return (
        out.select(
            "l_returnflag",
            "quarter",
            # r17 (q9 convention, flagged by the audit's new
            # float-image scan): round the EXACT decimal sum, then
            # cast — round(double-image) can diverge cross-engine at
            # an exact cent half-boundary (the r16 q9 replica find)
            F.round(F.col("rev_raw"), 2).cast("double").alias("revenue"),
            "n_items",
            F.round(F.col("avg_raw").cast("double"), 4).alias(
                "avg_item_revenue"
            ),
            F.lit(used is not None).alias("answered_from_mv"),
        )
        .orderBy("l_returnflag", "quarter")
    )


@query(
    "materialized_view_rewrite",
    oracle="""
    SELECT l_returnflag,
           CAST(date_trunc('quarter', l_shipdate) AS TIMESTAMP) AS quarter,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18, 4))
                 * CAST(1 - l_discount AS DECIMAL(18, 4))), 2) AS DOUBLE)
               AS revenue,
           count(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag, quarter ORDER BY l_returnflag, quarter
    """,
)
def materialized_view_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive materialized-view workflow: materialize a MONTHLY revenue
    rollup as a managed table, then answer the QUARTERLY question from
    the MV (rollup-on-rollup — sums and counts re-aggregate; this is
    why the MV stores sum/count, never avg). The revenue measure is
    DECIMAL end-to-end: decimal addition is associative, so the
    month→quarter re-aggregation is EXACTLY the direct quarterly sum —
    with doubles the two accumulation orders differ in the last bit
    and can land across a rounding boundary. The oracle computes from
    the base table: staleness or a non-re-aggregable measure breaks
    parity. At 100 TB the MV is the difference between scanning 90
    days of facts and 3 rows per flag."""
    cat = Catalog(spark, sf_dir)
    mv = "mv_monthly_revenue"
    fresh_managed_table(spark, f"{mv}")
    (
        cat.lineitem.groupBy(
            "l_returnflag",
            F.date_trunc("month", "l_shipdate").alias("month"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (1 - F.col("l_discount")).cast("decimal(18,4)")
            ).alias("rev"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .write.mode("overwrite")
        .saveAsTable(mv)
    )
    return (
        spark.table(mv)
        .groupBy(
            "l_returnflag",
            F.date_trunc("quarter", "month").alias("quarter"),
        )
        .agg(
            # r17 (q9 convention): round the exact decimal sum, then
            # cast — never round the double image of a decimal
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
            F.sum("n_items").alias("n_items"),
        )
        .orderBy("l_returnflag", "quarter")
    )


@query(
    "pivot_dynamic",
    oracle="""
    SELECT c_mktsegment,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS "F",
           CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS "O",
           CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS "P"
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic pivot: the status columns are INFERRED from the data
    (no value list passed — Spark runs the distinct scan itself),
    which plain HiveQL cannot express at all and pivot_orders's static
    variant sidesteps. The oracle pins the complete inferred column
    set, so a status appearing or vanishing breaks parity loudly. At
    100 TB pass the value list explicitly when you know it — the
    inference is an extra distinct scan."""
    cat = Catalog(spark, sf_dir)
    j = cat.orders.join(
        cat.customer, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        j.groupBy("c_mktsegment")
        .pivot("o_orderstatus")  # no values= → inferred
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("c_mktsegment")
    )


@query(
    "sql_pivot_unpivot",
    oracle="""
    SELECT o_orderpriority, o_orderstatus AS status,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    ORDER BY o_orderpriority, status
    """,
)
def sql_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT → UNPIVOT round trip (the clause syntax, distinct
    from the DataFrame pivot API `pivot_orders` covers): order counts
    pivot to one column per status, then unpivot back to rows — the
    round trip must reproduce the plain GROUP BY exactly (UNPIVOT's
    NULL-exclusion drops precisely the combos that never existed).
    One scan for the pivot; unpivot is a map-side expand."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "pivot_orders_src"
    )
    return spark.sql(
        """
        WITH p AS (
          SELECT * FROM (
            SELECT o_orderpriority, o_orderstatus
            FROM pivot_orders_src)
          PIVOT (count(*) FOR o_orderstatus IN
                 ('O' AS st_O, 'F' AS st_F, 'P' AS st_P))
        )
        SELECT o_orderpriority,
               CASE status WHEN 'st_O' THEN 'O' WHEN 'st_F' THEN 'F'
                    ELSE 'P' END AS status,
               n
        FROM p UNPIVOT (n FOR status IN (st_O, st_F, st_P))
        ORDER BY o_orderpriority, status
        """
    )


@query(
    "pivot_multi_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) FILTER (WHERE l_linestatus = 'F')
                AS BIGINT) AS F_n,
           round(CAST(sum(CAST(l_quantity AS BIGINT))
                 FILTER (WHERE l_linestatus = 'F') AS DOUBLE), 1)
               AS F_qty,
           CAST(count(*) FILTER (WHERE l_linestatus = 'O')
                AS BIGINT) AS O_n,
           round(CAST(sum(CAST(l_quantity AS BIGINT))
                 FILTER (WHERE l_linestatus = 'O') AS DOUBLE), 1)
               AS O_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT with MULTIPLE aggregate measures per pivoted value
    (count AND quantity sum per line status) — the form a
    single-measure pivot needs a self-join to express. Quantities
    sum as exact integers before the display cast. Map-side partial
    aggregation applies to every (value, measure) cell."""
    Catalog(spark, sf_dir).lineitem.createOrReplaceTempView(
        "pivot_li_src"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               F_n, round(CAST(F_qty AS DOUBLE), 1) AS F_qty,
               O_n, round(CAST(O_qty AS DOUBLE), 1) AS O_qty
        FROM (
          SELECT l_returnflag, l_linestatus,
                 CAST(l_quantity AS BIGINT) AS qty
          FROM pivot_li_src)
        PIVOT (count(*) AS n, sum(qty) AS qty
               FOR l_linestatus IN ('F' AS F, 'O' AS O))
        ORDER BY l_returnflag
        """
    ).selectExpr(
        "l_returnflag",
        "CAST(F_n AS BIGINT) AS F_n",
        "F_qty",
        "CAST(O_n AS BIGINT) AS O_n",
        "O_qty",
    )


# --------------------------------------------------------------------
# share-of-parent rollup
# --------------------------------------------------------------------

_SHARE_ORACLE = f"""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(sum({ORDER_CENTS}) AS BIGINT) AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2),
reg AS (
  SELECT region, CAST(sum(rev_cents) AS BIGINT) AS reg_cents
  FROM rev GROUP BY 1),
tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS t FROM rev)
SELECT rev.region, rev.nation, rev.rev_cents,
       CAST(rev.rev_cents * 1000 // reg.reg_cents AS BIGINT)
           AS share_of_parent_permille
FROM rev JOIN reg ON rev.region = reg.region
UNION ALL
SELECT reg.region, '_all', reg.reg_cents,
       CAST(reg.reg_cents * 1000 // tot.t AS BIGINT)
FROM reg CROSS JOIN tot
ORDER BY region, nation
"""


@query("share_of_parent_rollup", oracle=_SHARE_ORACLE)
def share_of_parent_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The two-level OLAP share report: each nation's revenue as a
    permille share of ITS REGION, plus a ``_all`` row per region
    carrying the region's share of the grand total — the
    drill-down/contribution view every revenue dashboard leads with.
    One fact aggregation to the (region, nation) grain; the region
    totals and the 1-row grand total are broadcast back onto it —
    shares are integer permille, parent-aligned by construction
    (children of a region sum to ≤1000 with truncation loss
    < nation count)."""
    cat = Catalog(spark, sf_dir)
    rev = (
        cat.orders.join(
            cat.customer,
            cat.orders.o_custkey == cat.customer.c_custkey,
        )
        .join(
            F.broadcast(cat.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(cat.region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
        # r12 scan-count fix: the region totals, grand total and the
        # child-share join each re-ran the fact aggregation from
        # parquet (4 scans measured); the (region, nation) grain is
        # checkpointed once
        .localCheckpoint()
    )
    reg = rev.groupBy("region").agg(
        F.sum("rev_cents").cast("long").alias("reg_cents")
    )
    tot = rev.agg(F.sum("rev_cents").cast("long").alias("t"))
    child = rev.join(F.broadcast(reg), "region").select(
        "region",
        "nation",
        "rev_cents",
        F.expr("cast(rev_cents * 1000 div reg_cents as bigint)").alias(
            "share_of_parent_permille"
        ),
    )
    parent = reg.crossJoin(F.broadcast(tot)).select(
        "region",
        F.lit("_all").alias("nation"),
        F.col("reg_cents").alias("rev_cents"),
        F.expr("cast(reg_cents * 1000 div t as bigint)").alias(
            "share_of_parent_permille"
        ),
    )
    return child.unionByName(parent).orderBy("region", "nation")


@query(
    "rfm_segmentation",
    oracle="""
    WITH anchor AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx
                    FROM events),
    base AS (
      SELECT user_id,
             date_diff('day',
                       CAST(max(CAST(ts AS TIMESTAMP)) AS DATE),
                       CAST(anchor.mx AS DATE)) AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM events CROSS JOIN anchor
      GROUP BY user_id, anchor.mx),
    scored AS (
      SELECT *,
             ntile(4) OVER (ORDER BY recency_days ASC, user_id)
                 AS r_q,
             ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_q,
             ntile(4) OVER (ORDER BY monetary_cents DESC, user_id)
                 AS m_q
      FROM base)
    SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary_cents,
           r_q, f_q, m_q,
           CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS rfm_code
    FROM scored ORDER BY user_id
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation —
    the standard CRM cut. Recency anchors on the corpus max
    timestamp (1-row broadcast, so the query is reproducible instead
    of wall-clock dependent); monetary is exact integer cents (the
    cents idiom — a float sum would be accumulation-order noise);
    each quartile is ntile(4) over a TOTAL order with user_id
    tie-break, making assignment deterministic cross-engine. The
    three quartile assignments run through the distributed
    exact-ntile operator (operators/ranking.py: approx-percentile
    range split + per-range rank + exact offsets — bit-identical to
    the SQL window by the operator's property tests), so there is NO
    single-partition global window: the user dimension grows with
    the fact table, and a partitionless ntile would be a one-task
    sort at 100 TB. The oracle stays the plain ntile(4) windows."""
    ev = Catalog(spark, sf_dir).events
    # r13 subtree-audit fix: the corpus-max anchor was its own events
    # pass; the global max equals the max over per-user maxes, so one
    # user-grain rollup (checkpointed — three ntile calls consume it)
    # carries everything and events is scanned ONCE (was 14 before the
    # exact_ntile input-materialization fix, 2 after, 1 now).
    # r15: checkpoint_reduced (not raw localCheckpoint) so the three
    # exact_ntile calls' verified tier classifier recognizes this
    # user-grain rollup as a proven reduced materialization and keeps
    # the cheap checkpoint tier for their input materializations.
    from hdsp_hive_release_src_spark.operators.materialize import (
        checkpoint_reduced,
    )

    per_user = checkpoint_reduced(
        ev.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    anchor = per_user.agg(F.max("last_d").alias("mx"))
    base = per_user.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff(F.col("mx"), F.col("last_d")).alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    from hdsp_hive_release_src_spark.operators.ranking import (
        exact_ntile,
    )

    scored = base.select(
        "user_id",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary_cents",
    )
    scored = exact_ntile(
        scored, "recency_days", ["user_id"], 4, bucket_col="r_q"
    )
    scored = exact_ntile(
        scored,
        "frequency",
        ["user_id"],
        4,
        descending=True,
        bucket_col="f_q",
    )
    scored = exact_ntile(
        scored,
        "monetary_cents",
        ["user_id"],
        4,
        descending=True,
        bucket_col="m_q",
    )
    return (
        scored.withColumn(
            "rfm_code",
            (
                F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")
            ).cast("int"),
        )
        .orderBy("user_id")
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
    cls = ranked.crossJoin(F.broadcast(tot)).select(
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
        .crossJoin(F.broadcast(tot))
        .select(
            "abc_class",
            "n_parts",
            "revenue_cents",
            F.expr("cast(revenue_cents * 1000 div tot as bigint)")
            .alias("share_permille"),
        )
        .orderBy("abc_class")
    )


# --------------------------------------------------------------------
# month-over-month waterfall
# --------------------------------------------------------------------

_WF_ORACLE = f"""
WITH m AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
         o_orderpriority AS seg,
         CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2),
lagged AS (
  SELECT mon, seg, cents,
         lag(cents) OVER (PARTITION BY seg ORDER BY mon) AS prev
  FROM m),
delta AS (
  SELECT mon, seg, cents, prev,
         cents - prev AS contribution
  FROM lagged WHERE prev IS NOT NULL),
tot AS (
  SELECT mon, CAST(sum(contribution) AS BIGINT) AS total_delta
  FROM delta GROUP BY mon)
SELECT CAST(delta.mon AS DATE) AS mon, seg,
       CAST(contribution AS BIGINT) AS contribution,
       tot.total_delta
FROM delta JOIN tot ON delta.mon = tot.mon
WHERE year(delta.mon) = 1998
ORDER BY mon, seg
"""


@query("mom_waterfall_contribution", oracle=_WF_ORACLE)
def mom_waterfall_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue delta decomposed into per-segment
    contributions — the waterfall chart's exact data contract: the
    segment contributions of a month sum to that month's total delta
    (emitted alongside, so the invariant is visible in the output).
    Exact integer cents end to end; one monthly rollup, one lag
    window per segment, restricted to one year to keep the output
    review-sized."""
    o = Catalog(spark, sf_dir).orders
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mon_ts"),
        F.col("o_orderpriority").alias("seg"),
    ).agg(F.sum(F.expr(ORDER_CENTS)).cast("long").alias("cents"))
    lagged = m.select(
        F.to_date("mon_ts").alias("mon"),
        "seg",
        "cents",
        F.lag("cents")
        .over(Window.partitionBy("seg").orderBy("mon_ts"))
        .alias("prev"),
    )
    delta = lagged.where(F.col("prev").isNotNull()).select(
        "mon",
        "seg",
        (F.col("cents") - F.col("prev")).alias("contribution"),
    )
    # r13 subtree-sweep fix: the month total was a second aggregate
    # joined back, re-running the rollup + lag window. A
    # month-partitioned window computes it in the same pass.
    return (
        delta.withColumn(
            "total_delta",
            F.sum("contribution")
            .over(Window.partitionBy("mon"))
            .cast("long"),
        )
        .where(F.year("mon") == 1998)
        .select(
            "mon",
            "seg",
            F.col("contribution").cast("long").alias("contribution"),
            "total_delta",
        )
        .orderBy("mon", "seg")
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
# tiered marginal commission
# --------------------------------------------------------------------

_TIER_ORACLE = f"""
WITH v AS (SELECT o_orderpriority AS pri, {ORDER_CENTS} AS c FROM orders),
per AS (
  SELECT pri, c,
         (CASE WHEN c > 10000000 THEN 10000000 ELSE c END) * 10
         + (CASE WHEN c > 30000000 THEN 20000000
                 WHEN c > 10000000 THEN c - 10000000
                 ELSE 0 END) * 25
         + (CASE WHEN c > 30000000 THEN c - 30000000 ELSE 0 END) * 40
             AS comm_permille
  FROM v)
SELECT pri, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(c) AS BIGINT) AS cents,
       CAST(sum(comm_permille) // 1000 AS BIGINT) AS commission_cents
FROM per GROUP BY pri ORDER BY pri
"""


@query("tiered_commission_brackets", oracle=_TIER_ORACLE)
def tiered_commission_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal bracket calculation (tax-style tiers: 1.0% below
    $100k, 2.5% to $300k, 4.0% above — rates held as integer
    permille): each order's commission is the sum of clamped
    per-bracket spans times the bracket rate, all exact integer
    arithmetic, floored to cents only at the aggregate. The clamp
    formulation (min(c,hi)−lo)⁺ is branch-light codegen — the naive
    rate-lookup-then-multiply computes an AVERAGE rate and gets
    marginal tiers wrong."""
    o = Catalog(spark, sf_dir).orders
    v = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.expr(ORDER_CENTS).alias("c"),
    )
    per = v.select(
        "pri",
        "c",
        F.expr(
            "(CASE WHEN c > 10000000 THEN 10000000 ELSE c END) * 10"
            " + (CASE WHEN c > 30000000 THEN 20000000"
            "         WHEN c > 10000000 THEN c - 10000000"
            "         ELSE 0 END) * 25"
            " + (CASE WHEN c > 30000000 THEN c - 30000000"
            "    ELSE 0 END) * 40"
        ).alias("comm_permille"),
    )
    return (
        per.groupBy("pri")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("cents"),
            F.expr(
                "CAST(sum(comm_permille) div 1000 AS BIGINT)"
            ).alias("commission_cents"),
        )
        .orderBy("pri")
    )


# --------------------------------------------------------------------
# largest-remainder integer allocation
# --------------------------------------------------------------------

_ALLOC_BUDGET = 10000

_ALLOC_ORACLE = f"""
WITH g AS (
  SELECT o_orderpriority AS pri,
         CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents
  FROM orders GROUP BY pri),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM g),
quota AS (
  SELECT pri, cents,
         cents * {_ALLOC_BUDGET} // tot.t AS base,
         cents * {_ALLOC_BUDGET} % tot.t AS rem
  FROM g, tot),
leftover AS (
  SELECT CAST({_ALLOC_BUDGET} - sum(base) AS BIGINT) AS k FROM quota),
ranked AS (
  SELECT pri, cents, base,
         row_number() OVER (ORDER BY rem DESC, pri) AS rr
  FROM quota)
SELECT pri, cents,
       CAST(base + CASE WHEN rr <= leftover.k THEN 1 ELSE 0 END
            AS BIGINT) AS allocation
FROM ranked, leftover ORDER BY pri
"""


@query("largest_remainder_allocation", oracle=_ALLOC_ORACLE)
def largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder allocation: split an integer budget
    (10000 units) across groups proportional to revenue so the parts
    sum EXACTLY to the budget (floor quotas + one extra unit to the
    largest remainders, deterministic tiebreak). The float way
    (round(share·B)) neither sums to B nor replays across engines;
    this is the integer idiom ETL uses for invoice/prorate splits.
    All quotas and remainders exact int64."""
    o = Catalog(spark, sf_dir).orders
    # r12 scan-count fix: the total, leftover and ranked branches each
    # re-ran the priority rollup from parquet (4 scans measured); the
    # 5-row group table is checkpointed once
    g = (
        o.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(F.sum(F.expr(ORDER_CENTS)).cast("long").alias("cents"))
        .localCheckpoint()
    )
    tot = g.agg(F.sum("cents").cast("long").alias("t"))
    # r13 subtree-sweep fix: leftover and ranked both re-derived the
    # quota rows (re-broadcasting the total). Five rows — checkpoint.
    quota = g.crossJoin(F.broadcast(tot)).select(
        "pri",
        "cents",
        F.expr(f"cents * {_ALLOC_BUDGET} div t").alias("base"),
        F.expr(f"cents * {_ALLOC_BUDGET} % t").alias("rem"),
    ).localCheckpoint()
    leftover = quota.agg(
        F.expr(
            f"CAST({_ALLOC_BUDGET} - sum(base) AS BIGINT)"
        ).alias("k")
    )
    ranked = quota.select(
        "pri",
        "cents",
        "base",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("pri")))
        .alias("rr"),
    )
    return (
        ranked.crossJoin(F.broadcast(leftover))
        .select(
            "pri",
            "cents",
            F.expr(
                "CAST(base + CASE WHEN rr <= k THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("allocation"),
        )
        .orderBy("pri")
    )


# --------------------------------------------------------------------
# cohort LTV matrix
# --------------------------------------------------------------------

_LTV_ORACLE = """
WITH ue AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01',
                   CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS ew,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
first AS (
  SELECT user_id, min(ew) AS cw FROM ue GROUP BY user_id),
rev AS (
  SELECT first.cw, ue.ew - first.cw AS off, ue.cents, ue.user_id
  FROM ue JOIN first ON ue.user_id = first.user_id),
cs AS (SELECT cw, CAST(count(DISTINCT user_id) AS BIGINT) AS users
       FROM rev WHERE off = 0 GROUP BY cw),
m AS (
  SELECT cw, off, CAST(sum(cents) AS BIGINT) AS rev_cents
  FROM rev GROUP BY cw, off),
c AS (
  SELECT cw, off, rev_cents,
         CAST(sum(rev_cents) OVER (PARTITION BY cw ORDER BY off
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
  FROM m)
SELECT CAST(DATE '1970-01-01' + INTERVAL (c.cw * 7) DAY AS DATE)
           AS cohort_week_start,
       CAST(off AS BIGINT) AS week_offset,
       cs.users, c.cum_cents,
       CAST(c.cum_cents // cs.users AS BIGINT) AS ltv_cents_per_user
FROM c JOIN cs ON c.cw = cs.cw
ORDER BY cohort_week_start, week_offset
"""


@query("cohort_ltv_matrix", oracle=_LTV_ORACLE)
def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-activity
    WEEK (the corpus spans one month, so weekly cohorts are the
    granularity with signal; at production span swap the epoch-week
    for an epoch-month — the arithmetic pattern is identical),
    revenue accumulated per week offset, reported as exact cumulative
    cents and integer cents-per-user. Week ids are pure integer
    epoch-day arithmetic (days-since-1970 div 7) — no float
    months_between, no locale weekofyear. The cumulative window is
    PARTITIONED by cohort (bounded offsets per cohort, each cohort
    sorts independently); cohort size counts only offset-0 users (the
    cohort's defining week)."""
    ev = Catalog(spark, sf_dir).events
    ue = ev.select(
        "user_id",
        F.expr(
            "datediff(cast(ts as date), date '1970-01-01') div 7"
        ).alias("ew"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # r12 scan-count fix: cohort sizes and the revenue matrix each
    # re-ran the events scan + first-week join (4 scans measured).
    # r13 re-plan: the first-activity week is a per-user window MIN
    # over the same rows — one scan and one user_id shuffle replace
    # the groupBy + self-join (identical integers: min over the same
    # partition). The narrow (cw, off, cents, user) table is
    # events-ROW-sized, so DISK_ONLY persist, never localCheckpoint
    # (materialize.py discipline).
    wu = Window.partitionBy("user_id")
    rev = persist_fact_rows(
        ue.select(
            F.min("ew").over(wu).alias("cw"),
            (F.col("ew") - F.min("ew").over(wu)).alias("off"),
            "cents",
            "user_id",
        )
    )
    cs = (
        rev.where(F.col("off") == 0)
        .groupBy("cw")
        .agg(F.countDistinct("user_id").cast("long").alias("users"))
    )
    m = rev.groupBy("cw", "off").agg(
        F.sum("cents").cast("long").alias("rev_cents")
    )
    w = (
        Window.partitionBy("cw")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = m.select(
        "cw",
        "off",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("long").alias("cum_cents"),
    )
    return (
        c.join(cs, "cw")
        .select(
            F.expr("date_add(date '1970-01-01', cast(cw * 7 as int))")
            .alias("cohort_week_start"),
            F.col("off").cast("long").alias("week_offset"),
            "users",
            "cum_cents",
            F.expr("cum_cents div users")
            .cast("long")
            .alias("ltv_cents_per_user"),
        )
        .orderBy("cohort_week_start", "week_offset")
    )


@query(
    "filtered_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
           bool_and(l_discount < 0.1) AS all_low_disc,
           bool_or(l_tax > 0.07) AS any_high_tax
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregate family: count_if + bool_and/bool_or
    (Hive's conditional-aggregation idioms, single-pass mergeable)."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
            F.bool_and(F.col("l_discount") < 0.1).alias("all_low_disc"),
            F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        )
        .orderBy("l_returnflag")
    )

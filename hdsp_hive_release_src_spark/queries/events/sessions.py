"""Events domain: sessions, funnels, paths and as-of joins over the
events table.

Sessionization (gap, capped, session windows), funnels, retention and
cohorts, attribution, path n-grams and Markov transitions, and as-of
joins between events and orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.operators.asof import asof_join
from hdsp_hive_release_src_spark.operators.materialize import persist_fact_rows
from hdsp_hive_release_src_spark.operators.sessionize import sessionize
from hdsp_hive_release_src_spark.registry import query


@query(
    "sessionization",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                 (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP),
                  event_id) AS gap_us
      FROM events
    ), tagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sess AS (
      SELECT user_id, event_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM tagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS end_us
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessions per user (operators/sessionize.py), rolled up
    to one row per session."""
    ev = Catalog(spark, sf_dir).events
    sess = sessionize(ev, key="user_id", ts="ts", gap_seconds=1800)
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_micros("ts")).cast("long").alias("start_us"),
            F.max(F.unix_micros("ts")).cast("long").alias("end_us"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "funnel_counts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view'
                 THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view,
             min(CASE WHEN event_type = 'click'
                 THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_click,
             min(CASE WHEN event_type = 'purchase'
                 THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
           count(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                 THEN 1 END) AS n_view_click,
           count(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      AND t_purchase > t_click THEN 1 END)
               AS n_view_click_purchase
    FROM firsts
    """,
)
def funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase ordered funnel (first-touch per stage,
    strictly increasing timestamps)."""
    ev = Catalog(spark, sf_dir).events
    us = F.unix_micros("ts")

    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, us))

    firsts = ev.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    stage1 = F.col("t_view").isNotNull()
    stage2 = stage1 & (F.col("t_click") > F.col("t_view"))
    stage3 = stage2 & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.when(stage1, 1)).alias("n_view"),
        F.count(F.when(stage2, 1)).alias("n_view_click"),
        F.count(F.when(stage3, 1)).alias("n_view_click_purchase"),
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH acts AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day
      FROM events
    ), cohorts AS (
      SELECT user_id, min(day) AS cohort_day FROM acts GROUP BY user_id
    )
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
           count(*) AS n_users
    FROM acts JOIN cohorts USING (user_id)
    GROUP BY cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen-day cohorts × activity-day offset retention matrix."""
    ev = Catalog(spark, sf_dir).events
    acts = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    cohorts = acts.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        acts.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "asof_join_events_orders",
    oracle="""
    WITH purchases AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, value
      FROM events WHERE event_type = 'purchase'
    ), views AS (
      SELECT user_id, event_id AS view_event_id, CAST(ts AS TIMESTAMP) ts
      FROM events WHERE event_type = 'view'
    )
    SELECT p.event_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
           v.view_event_id AS prior_view_id,
           CAST(epoch_us(v.ts) AS BIGINT) AS prior_view_us
    FROM purchases p ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    ORDER BY p.event_id
    """,
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase ↔ the same user's most recent
    prior (or simultaneous) view. Uses the union+carry-forward window
    operator (operators/asof.py) — DuckDB's native ASOF JOIN is the
    oracle."""
    ev = Catalog(spark, sf_dir).events
    # r13 subtree-audit fix: both as-of sides are filters of the SAME
    # fact table, so the tagged union executed two full events scans.
    # One narrow two-type projection persists DISK_ONLY (fact-row
    # tier); each side is a cache read. The output is row-per-purchase
    # (NOT reduced) and the cache is built BY the consumer's action
    # (no build-time collects) — so releasing at return would restore
    # the two-scan plan. The consumer's collect builds the cache and
    # reads it from both sides; the query boundary releases it
    # (operators/materialize.py lifecycle).
    both = persist_fact_rows(
        ev.where(F.col("event_type").isin("purchase", "view")).select(
            "user_id", "event_id", "ts", "event_type"
        )
    )
    purchases = both.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = both.where(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
    )
    joined = asof_join(
        purchases,
        views,
        left_on="ts",
        right_on="view_ts",
        by_left="user_id",
        by_right="user_id",
        value_cols=["view_event_id", "view_ts"],
        suffix="",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").cast("long").alias("purchase_us"),
        F.col("view_event_id").alias("prior_view_id"),
        F.unix_micros("view_ts").cast("long").alias("prior_view_us"),
    ).orderBy("event_id")


@query(
    "asof_join_forward",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             -epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS nt
      FROM orders WHERE o_custkey < 100),
    e AS (
      SELECT user_id, value,
             -epoch_us(CAST(ts AS TIMESTAMP)) AS nt
      FROM events WHERE user_id < 100)
    SELECT o.o_orderkey,
           CAST(count(e.nt) AS BIGINT) AS has_next,
           round(coalesce(max(e.value), -1.0), 2) AS next_value
    FROM o ASOF LEFT JOIN e
      ON o.o_custkey = e.user_id AND e.nt <= o.nt
    GROUP BY o.o_orderkey ORDER BY o.o_orderkey
    """,
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — each order matched to the user's NEXT
    event at-or-after the order date (the "what happened next"
    direction backward as-of can't answer). Implemented by running the
    backward operator on NEGATED epoch timestamps — direction is a
    sign flip, not a second operator; DuckDB's ASOF does the same
    trick in the oracle. Ties at the exact instant resolve to the
    event (inclusive), matching the backward operator's contract."""
    cat = Catalog(spark, sf_dir)
    o = cat.orders.where(F.col("o_custkey") < 100).select(
        "o_orderkey",
        "o_custkey",
        (-F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "nt"
        ),
    )
    e = cat.events.where(F.col("user_id") < 100).select(
        "user_id",
        "value",
        (-F.unix_micros("ts")).alias("ent"),
    )
    joined = asof_join(
        o,
        e,
        left_on="nt",
        right_on="ent",
        by_left="o_custkey",
        by_right="user_id",
        value_cols=["value"],
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.count("value_right").cast("long").alias("has_next"),
            F.round(
                F.coalesce(F.max("value_right"), F.lit(-1.0)), 2
            ).alias("next_value"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "asof_join_tolerance",
    oracle="""
    WITH purchases AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts
      FROM events WHERE event_type = 'purchase'
    ), views AS (
      SELECT user_id, event_id AS view_event_id,
             CAST(ts AS TIMESTAMP) ts
      FROM events WHERE event_type = 'view'
    )
    SELECT p.event_id, p.user_id,
           CASE WHEN v.ts >= p.ts - INTERVAL 30 MINUTE
                THEN v.view_event_id END AS fresh_view_id,
           CASE WHEN v.ts >= p.ts - INTERVAL 30 MINUTE
                THEN CAST(epoch_us(v.ts) AS BIGINT) END AS fresh_view_us
    FROM purchases p ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    ORDER BY p.event_id
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join WITH a staleness tolerance (pandas
    merge_asof's `tolerance=`): each purchase gets the user's most
    recent prior view ONLY if it happened within the last 30 minutes
    — a quote/lookup older than the tolerance is stale and must NOT
    be carried (the difference between "the last known price" and
    "a price still valid"). Implemented as the same
    union+carry-forward window operator (operators/asof.py) carrying
    the right-side timestamp, with the tolerance applied as a
    post-carry mask — zero extra shuffles vs the unbounded as-of.
    DuckDB's native ASOF JOIN + the same mask is the oracle."""
    from hdsp_hive_release_src_spark.operators.asof import asof_join

    ev = Catalog(spark, sf_dir).events
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
    )
    joined = asof_join(
        purchases,
        views,
        left_on="ts",
        right_on="view_ts",
        by_left="user_id",
        by_right="user_id",
        value_cols=["view_event_id", "view_ts"],
        suffix="",
    )
    fresh = F.col("view_ts") >= F.col("ts") - F.expr(
        "INTERVAL 30 MINUTES"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.when(fresh, F.col("view_event_id")).alias("fresh_view_id"),
        F.when(fresh, F.unix_micros("view_ts").cast("long")).alias(
            "fresh_view_us"
        ),
    ).orderBy("event_id")


@query(
    "batch_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                  - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                    (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
                  >= 30 * 60 * 1000000 THEN 1 ELSE 0 END AS is_new
      FROM events),
    tagged AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered)
    SELECT user_id,
           CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(max(ts)) + 30 * 60 * 1000000 AS BIGINT)
               AS session_end_us,
           count(*) AS n_events
    FROM tagged GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
)
def batch_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window() in BATCH mode (30-min gap) — the same
    builtin the streaming job uses (stream_sessionization), here as a
    one-shot groupBy: Spark merges overlapping [ts, ts+gap) intervals
    per key into sessions whose end = last event + gap — the window
    end is EXCLUSIVE, so an event exactly gap after its predecessor
    starts a NEW session (the oracle's split condition is therefore
    >=, not >). The oracle derives identical sessions from the
    lag/cumsum formulation,
    proving the two sessionization formulations (window-function and
    native operator) agree — which is also the batch↔stream
    consistency contract. One shuffle on user_id."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", "30 minutes").alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            F.unix_micros("sw.end").alias("session_end_us"),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


#: session gap (minutes) shared with the oracle.
_SW_GAP_MIN = 30


@query(
    "session_window_sql",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                         (PARTITION BY user_id
                          ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       >= {_SW_GAP_MIN} * 60000000
                       OR lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                          (PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
                          IS NULL
                  THEN 1 ELSE 0 END AS is_new,
             value
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {_SW_GAP_MIN} MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                AS BIGINT) AS value_cents
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def session_window_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE session_window() aggregation — Spark's dynamic-gap
    grouping function, the declarative alternative to the lag+cumsum
    composition (`sessionization`): ONE groupBy(session_window(ts,
    gap), user) and the engine merges overlapping windows itself
    (same operator that powers streaming session windows). The
    oracle rebuilds the identical sessions the window-function way,
    pinning the builtin's semantics: window end = last event + gap.
    One (user, ts) exchange; value sums in integer cents."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(
            F.session_window("ts", f"{_SW_GAP_MIN} minutes"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "cumulative_users",
    oracle="""
    WITH fs AS (
      SELECT user_id,
             min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                 AS TIMESTAMP)) AS first_day
      FROM events GROUP BY user_id),
    d AS (SELECT first_day AS day, count(*) AS new_users
          FROM fs GROUP BY first_day)
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_users
    FROM d ORDER BY day
    """,
)
def cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day: reduce to one first-touch
    row per user (one shuffle on user_id), then a running sum over the
    tiny per-day series — never a distinct-count rescan per day."""
    ev = Catalog(spark, sf_dir).events
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    daily = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day")


@query(
    "session_first_touch_attribution",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, value,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE user_id < 300),
    tagged AS (
      SELECT *,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       >= 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      FROM tagged),
    attributed AS (
      SELECT user_id, sid,
             min(CASE WHEN event_type = 'view' THEN event_id END)
                 AS first_view,
             round(sum(CASE WHEN event_type = 'purchase'
                            THEN value ELSE 0 END), 2) AS revenue
      FROM sess GROUP BY user_id, sid)
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count_if(first_view IS NOT NULL AND revenue > 0)
                AS BIGINT) AS attributed_sessions,
           round(sum(CASE WHEN first_view IS NOT NULL
                          THEN revenue ELSE 0 END), 2)
               AS attributed_revenue,
           round(sum(revenue), 2) AS total_revenue
    FROM attributed
    """,
)
def session_first_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch attribution: purchase revenue inside a 30-minute
    session is credited to the session's first view event — the
    marketing-analytics composite of gap sessionization + conditional
    aggregation. One user_id shuffle serves both windows and the
    session rollup."""
    ev = Catalog(spark, sf_dir).events.where(F.col("user_id") < 300)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    tagged = ev.withColumn(
        "is_new",
        F.when(
            gap_us.isNull() | (gap_us >= 1800 * 1_000_000), 1
        ).otherwise(0),
    )
    sess = tagged.withColumn(
        "sid",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    attributed = sess.groupBy("user_id", "sid").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("event_id"))
        ).alias("first_view"),
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0)
            ),
            2,
        ).alias("revenue"),
    )
    return attributed.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_if(
            F.col("first_view").isNotNull() & (F.col("revenue") > 0)
        ).alias("attributed_sessions"),
        F.round(
            F.sum(
                F.when(
                    F.col("first_view").isNotNull(), F.col("revenue")
                ).otherwise(0.0)
            ),
            2,
        ).alias("attributed_revenue"),
        F.round(F.sum("revenue"), 2).alias("total_revenue"),
    )


@query(
    "time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
                 AS first_view_us,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
                 AS first_buy_us
      FROM events GROUP BY user_id),
    converted AS (
      SELECT (first_buy_us - first_view_us) / 1000000.0 AS ttc_s
      FROM firsts
      WHERE first_view_us IS NOT NULL AND first_buy_us IS NOT NULL
        AND first_buy_us >= first_view_us)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(median(ttc_s), 1) AS median_ttc_s,
           round(quantile_cont(ttc_s, 0.9), 1) AS p90_ttc_s,
           CAST(round(min(ttc_s)) AS BIGINT) AS min_ttc_s
    FROM converted
    """,
)
def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from FIRST view
    to FIRST purchase (users who bought before ever viewing are
    excluded — the funnel direction matters), summarized as median and
    p90. One conditional-min aggregation per user, then percentile
    over the user-level (small) result — the fact table never sorts."""
    ev = Catalog(spark, sf_dir).events
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "view", F.unix_micros("ts")
            )
        ).alias("first_view_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.unix_micros("ts")
            )
        ).alias("first_buy_us"),
    )
    conv = firsts.where(
        F.col("first_view_us").isNotNull()
        & F.col("first_buy_us").isNotNull()
        & (F.col("first_buy_us") >= F.col("first_view_us"))
    ).select(
        (
            (F.col("first_buy_us") - F.col("first_view_us")) / 1_000_000.0
        ).alias("ttc_s")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.median("ttc_s"), 1).alias("median_ttc_s"),
        F.round(F.expr("percentile(ttc_s, 0.9)"), 1).alias("p90_ttc_s"),
        F.round(F.min("ttc_s")).cast("long").alias("min_ttc_s"),
    )


@query(
    "trending_items_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                  AS TIMESTAMP) AS day,
             CAST(json_extract_string(props, '$.k') AS BIGINT)
                 AS item,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT *, rank() OVER (PARTITION BY day
                             ORDER BY n DESC, item) AS rnk
      FROM daily)
    SELECT day, item, CAST(n AS BIGINT) AS n, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3 ORDER BY day, rnk, item
    """,
)
def trending_items_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day top-3 trending items (the "trending now" rollup): one
    (day, item) count aggregation, then a rank window PARTITIONED BY
    day — the partitioned window is the scale-safe shape (each day
    sorts independently; no global ordering anywhere). Rank ties
    break on item id in both engines."""
    ev = Catalog(spark, sf_dir).events
    daily = (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            F.get_json_object("props", "$.k")
            .cast("long")
            .alias("item"),
        )
        .groupBy("day", "item")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("day").orderBy(
        F.col("n").desc(), F.col("item")
    )
    return (
        daily.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "day",
            "item",
            F.col("n").cast("long"),
            F.col("rnk").cast("int"),
        )
        .orderBy("day", "rnk", "item")
    )


@query(
    "funnel_windowed_strict",
    oracle="""
    WITH v AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS s1
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS s2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND CAST(e.ts AS TIMESTAMP) > v.s1
        AND CAST(e.ts AS TIMESTAMP) <= v.s1 + INTERVAL 1 HOUR
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS s3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(e.ts AS TIMESTAMP) > c.s2
        AND CAST(e.ts AS TIMESTAMP) <= c.s2 + INTERVAL 1 HOUR
      GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_1h,
           (SELECT count(*) FROM p) AS n_purchased_1h
    """,
)
def funnel_windowed_strict(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strict sequential funnel with per-step deadlines: view →
    click within 1h OF THE VIEW → purchase within 1h OF THAT CLICK.
    Each stage RE-ANCHORS on the previous stage's qualifying event
    (min qualifying ts), which is what separates a conversion-window
    funnel from `funnel_counts`' first-occurrence ordering — a click
    that happens 3 days after the view must not advance the funnel
    even if it is the user's first click. Scale shape: one
    aggregation + equi-join per stage, all keyed on user_id — the
    same exchange reused down the chain; no windows, no inequality
    joins (the deadline rides as a join-filter residual)."""
    ev = Catalog(spark, sf_dir).events
    # r12 scan-count fix: each stage plus each final count re-ran the
    # events scan (6 measured). One scan materializes the three event
    # types; the per-user stage anchors v and c are checkpointed too
    # (user-sized, reduced) because each is consumed by both the next
    # stage and its funnel count. base is events-ROW-sized, so
    # DISK_ONLY persist, never localCheckpoint (materialize.py: fact
    # rows on non-reliable local storage die with their executor).
    base = persist_fact_rows(
        ev.where(
            F.col("event_type").isin("view", "click", "purchase")
        ).select("event_type", "user_id", "ts")
    )
    v = (
        base.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s1"))
        .localCheckpoint()
    )
    c = (
        base.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("s1"))
            & (F.col("ts") <= F.col("s1") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("s2"))
        .localCheckpoint()
    )
    p = (
        base.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("s2"))
            & (F.col("ts") <= F.col("s2") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("s3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .join(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_clicked_1h"))))
        .join(
            F.broadcast(
                p.agg(F.count(F.lit(1)).alias("n_purchased_1h"))
            )
        )
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)
                 AS next_type,
             lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_ts
      FROM events),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type
      FROM ordered
      WHERE next_type IS NOT NULL
        AND next_ts <= CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE)
    SELECT from_type, to_type, count(*) AS n,
           round(count(*) * 1.0 / sum(count(*))
                 OVER (PARTITION BY from_type), 6) AS p
    FROM trans GROUP BY from_type, to_type
    ORDER BY from_type, to_type
    """,
)
def event_transition_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order behavioral transition matrix: for every
    consecutive event pair of the same user within a 30-minute
    session bound, count from→to transitions and the row-normalized
    transition probability — the Markov input for journey analysis,
    next-action prediction, and bot detection (a near-deterministic
    row is a script). One window over (user_id, ts) — the same
    single shuffle sessionization uses — then a 25-cell aggregate;
    the probability is one division of exact counts per cell (no
    accumulation). Deterministic tie-break on event_id."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        "ts",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    ).where(
        F.col("next_type").isNotNull()
        & (
            F.col("next_ts")
            <= F.col("ts") + F.expr("INTERVAL 30 MINUTES")
        )
    )
    counts = ordered.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("from_type")
    return (
        counts.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(wrow), 6)
        )
        .orderBy("from_type", "to_type")
    )


# --------------------------------------------------------------------
# capped sessionization
# --------------------------------------------------------------------

#: 2-hour inactivity gap defines an activity episode; each episode is
#: then sliced into 30-minute sub-sessions. Cap < gap is deliberate
#: and non-vacuous at every scale (30-min-gap sessions never exceed
#: one hour in this corpus; 2-hour episodes reach 6 hours, so the
#: chunk distribution has real mass past index 0).
SESSION_GAP_S = 7200
SESSION_CAP_S = 1800

_CAPPED_ORACLE = f"""
WITH e AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t
  FROM events),
flag AS (
  SELECT user_id, t,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                   > CAST({SESSION_GAP_S} AS BIGINT) * 1000000
              OR lag(t) OVER (PARTITION BY user_id ORDER BY t)
                   IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM e),
sess AS (
  SELECT user_id, t,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM flag),
anchored AS (
  SELECT user_id, sid, t,
         CAST(min(t) OVER (PARTITION BY user_id, sid) AS BIGINT)
             AS s0
  FROM sess),
sub AS (
  SELECT user_id, sid,
         CAST((t - s0) // (CAST({SESSION_CAP_S} AS BIGINT) * 1000000) AS BIGINT) AS chunk
  FROM anchored),
per AS (
  SELECT user_id, sid, chunk, CAST(count(*) AS BIGINT) AS n_events
  FROM sub GROUP BY user_id, sid, chunk)
SELECT chunk,
       CAST(count(*) AS BIGINT) AS n_subsessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(max(n_events) AS BIGINT) AS max_events
FROM per GROUP BY chunk ORDER BY chunk
"""


@query("sessionization_capped", oracle=_CAPPED_ORACLE)
def sessionization_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duration-capped sessionization: 2-hour-inactivity activity
    episodes, each hard-split into 30-minute sub-sessions by integer
    chunking against the episode-start epoch — the
    'no session outlives the cap' rule that bounds bot sessions,
    WITHOUT a sequential re-anchoring recursion (fixed-epoch
    chunking is one subtraction + one integer division, and its
    whole pipeline is the same single (user, ts) shuffle plain
    sessionization uses: gap flag → running session id → per-session
    min → chunk). Output: the bounded per-chunk-index distribution
    (sub-session count, events, largest sub-session)."""
    ev = Catalog(spark, sf_dir).events
    # exact integer MICROseconds on both engines (unix_micros /
    # epoch_us): DuckDB's epoch() returns fractional seconds while
    # Spark's unix_timestamp truncates — a sub-second gap straddling
    # a session boundary would split differently.
    e = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t"),
    )
    wu = Window.partitionBy("user_id").orderBy("t")
    flag = e.select(
        "user_id",
        "t",
        F.when(
            (F.col("t") - F.lag("t").over(wu) > SESSION_GAP_S * 1_000_000)
            | F.lag("t").over(wu).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = flag.select(
        "user_id",
        "t",
        F.sum("new_s")
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("sid"),
    )
    anchored = sess.select(
        "user_id",
        "sid",
        "t",
        F.min("t")
        .over(Window.partitionBy("user_id", "sid"))
        .cast("long")
        .alias("s0"),
    )
    per = (
        anchored.select(
            "user_id",
            "sid",
            F.expr(f"cast((t - s0) div ({SESSION_CAP_S} * 1000000) as bigint)")
            .alias("chunk"),
        )
        .groupBy("user_id", "sid", "chunk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    return (
        per.groupBy("chunk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_subsessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("n_events").cast("long").alias("max_events"),
        )
        .orderBy("chunk")
    )


# --------------------------------------------------------------------
# MATCH_RECOGNIZE-style funnel pattern counts
# --------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH enc AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), ''
                    ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id),
cnt AS (
  SELECT user_id,
         CAST((length(s) - length(replace(s, 'vcp', ''))) // 3
              AS BIGINT) AS strict_funnels,
         CAST(length(regexp_extract_all(s, 'v[^p]*c[^p]*p'))
              AS BIGINT) AS skip_funnels
  FROM enc)
SELECT strict_funnels, skip_funnels,
       CAST(count(*) AS BIGINT) AS users
FROM cnt GROUP BY strict_funnels, skip_funnels
ORDER BY strict_funnels, skip_funnels
"""


@query("funnel_pattern_match", oracle=_FUNNEL_ORACLE)
def funnel_pattern_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential pattern detection (the
    view→click→purchase funnel) without a row-pattern engine: each
    user's event history collapses to an ordered initial-letter
    string (one char per event; collect bounded by per-user event
    count — the sessionization contract), then
    (a) STRICT contiguous funnels count by replace-arithmetic
        ((len − len(replace(s,'vcp',''))) / 3 — pure string math,
        zero regex-engine variance), and
    (b) skip-allowed funnels count as non-overlapping matches of
        v[^p]*c[^p]*p — the [^p] guards pin every match to end at
        the FIRST purchase after its view→click, so Java and RE2
        agree on match spans.
    Aggregated to the (strict, skip) distribution — bounded output,
    and the per-user map side never shuffles strings twice."""
    ev = Catalog(spark, sf_dir).events
    enc = (
        ev.select(
            "user_id",
            F.struct(
                "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("e")), lambda x: x["c"]
                ),
                "",
            ).alias("s")
        )
    )
    cnt = enc.select(
        "user_id",
        (
            (F.length("s") - F.length(F.regexp_replace("s", "vcp", "")))
            / 3
        )
        .cast("long")
        .alias("strict_funnels"),
        F.size(
            F.expr("regexp_extract_all(s, 'v[^p]*c[^p]*p', 0)")
        )
        .cast("long")
        .alias("skip_funnels"),
    )
    return (
        cnt.groupBy("strict_funnels", "skip_funnels")
        .agg(F.count(F.lit(1)).cast("long").alias("users"))
        .orderBy("strict_funnels", "skip_funnels")
    )


_PATH_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
first3 AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path,
         CAST(count(*) AS BIGINT) AS n_steps
  FROM seq WHERE rn <= 3 GROUP BY user_id)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM first3 WHERE n_steps = 3
GROUP BY path ORDER BY n_users DESC, path LIMIT 15
"""


@query("user_path_trigrams", oracle=_PATH_ORACLE)
def user_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey openings: each user's FIRST THREE events
    (deterministic (ts, event_id) order — the sessionization
    tiebreak), joined into an ordered path string and counted across
    the corpus — the onboarding-funnel Sankey's input table. One
    (user, ts) window pass (row_number, early-filtered to rn ≤ 3 so
    the join-up is three rows per user), one bounded path aggregate;
    users with fewer than three events are excluded (partial paths
    would double-count prefixes). Deterministic (count, path)
    top-15."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= 3)
    first3 = seq.groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(rn,"
                " event_type))), s -> s.event_type)"
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).cast("long").alias("n_steps"),
    )
    return (
        first3.where(F.col("n_steps") == 3)
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(15)
    )


_TOUCH_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         first_value(event_type) OVER w AS first_touch,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS)
             OVER w AS last_touch
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)),
p AS (
  SELECT coalesce(first_touch, 'none') AS ft,
         coalesce(last_touch, 'none') AS lt, cents
  FROM seq WHERE event_type = 'purchase'),
channels AS (
  SELECT ft AS channel FROM p UNION SELECT lt FROM p)
SELECT channel,
       CAST(coalesce(sum(CASE WHEN p.ft = channel THEN cents END), 0)
            AS BIGINT) AS first_touch_cents,
       CAST(coalesce(sum(CASE WHEN p.lt = channel THEN cents END), 0)
            AS BIGINT) AS last_touch_cents
FROM channels LEFT JOIN p ON p.ft = channel OR p.lt = channel
GROUP BY channel ORDER BY channel
"""


@query("touch_attribution", oracle=_TOUCH_ORACLE)
def touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution, first-touch vs last-touch side by side:
    each purchase's cents are credited to the user's FIRST-ever event
    type and to the LAST non-purchase type preceding the purchase
    (running last_value with IGNORE NULLS over the one (user, time)
    window sessionization already pays for; a purchase with no prior
    touch lands in 'none'). Per channel, the two models' revenue —
    each column independently sums to total purchase revenue, so the
    report shows exactly how much credit MOVES between channels when
    the model changes. Window + bounded channel aggregate."""
    ev = Catalog(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.first("event_type").over(w).alias("first_touch"),
        F.last(
            F.when(
                F.col("event_type") != "purchase", F.col("event_type")
            ),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_touch"),
    )
    p = seq.where(F.col("event_type") == "purchase").select(
        F.coalesce("first_touch", F.lit("none")).alias("ft"),
        F.coalesce("last_touch", F.lit("none")).alias("lt"),
        "cents",
    )
    ft = p.groupBy(F.col("ft").alias("channel")).agg(
        F.sum("cents").cast("long").alias("first_touch_cents")
    )
    lt = p.groupBy(F.col("lt").alias("channel")).agg(
        F.sum("cents").cast("long").alias("last_touch_cents")
    )
    return (
        ft.join(lt, "channel", "full_outer")
        .select(
            "channel",
            F.coalesce("first_touch_cents", F.lit(0))
            .cast("long")
            .alias("first_touch_cents"),
            F.coalesce("last_touch_cents", F.lit(0))
            .cast("long")
            .alias("last_touch_cents"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------
# two-step Markov transitions
# --------------------------------------------------------------------

_MARKOV2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type,
         lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_ts
  FROM events),
trans AS (
  SELECT event_type AS a, next_type AS b
  FROM ordered
  WHERE next_type IS NOT NULL
    AND next_ts <= CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE),
p1 AS (
  SELECT a, b,
         CAST(count(*) * 1000 // sum(count(*)) OVER (PARTITION BY a)
              AS BIGINT) AS p_permille
  FROM trans GROUP BY a, b),
p2 AS (
  SELECT x.a, y.b AS c,
         CAST(sum(x.p_permille * y.p_permille) AS BIGINT) AS p2_micro
  FROM p1 x JOIN p1 y ON x.b = y.a GROUP BY x.a, y.b)
SELECT p2.a AS from_type, p2.c AS to_type, p2.p2_micro,
       CAST(coalesce(d.p_permille, 0) * 1000 AS BIGINT)
           AS p1_micro
FROM p2 LEFT JOIN p1 d ON p2.a = d.a AND p2.c = d.b
ORDER BY from_type, to_type
"""


@query("markov_two_step", oracle=_MARKOV2_ORACLE)
def markov_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step Markov behaviour probabilities — the transition
    matrix squared: P²(a,c) = Σ_b P(a,b)·P(b,c), over the same
    30-minute session-bounded consecutive-event transitions as
    ``event_transition_matrix`` (above). One-step
    probabilities are integer permille (count·1000 div row-total),
    so each product is exact micro units and the matrix-multiply sum
    stays int64 — both engines land on identical cells. The matrix
    itself is event_type² ≈ 25 cells: the multiply is a self-join on
    the middle state over a broadcast-size table; the only full-data
    work is the one sessionization-shaped window."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("a"),
            "ts",
            F.lead("event_type").over(w).alias("b"),
            F.lead("ts").over(w).alias("next_ts"),
        )
        .where(
            F.col("b").isNotNull()
            & (
                F.col("next_ts")
                <= F.col("ts") + F.expr("INTERVAL 30 MINUTE")
            )
        )
        .select("a", "b")
    )
    wa = Window.partitionBy("a")
    # r12 scan-count fix: both matrix-multiply sides and the one-step
    # lookup re-ran the sessionization window from parquet (3 scans
    # measured); the ~25-cell one-step matrix is checkpointed once
    p1 = (
        trans.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "a",
            "b",
            F.expr("cast(n * 1000 div sum(n) over (partition by a)"
                   " as bigint)").alias("p_permille"),
        )
        .localCheckpoint()
    )
    x = p1.select(
        F.col("a"), F.col("b").alias("mid"), F.col("p_permille").alias("px")
    )
    y = p1.select(
        F.col("a").alias("mid"),
        F.col("b").alias("c"),
        F.col("p_permille").alias("py"),
    )
    p2 = (
        x.join(y, "mid")
        .groupBy("a", "c")
        .agg(F.sum(F.col("px") * F.col("py")).cast("long").alias("p2_micro"))
    )
    d = p1.select(
        "a", F.col("b").alias("c"), F.col("p_permille").alias("p1p")
    )
    return (
        p2.join(F.broadcast(d), ["a", "c"], "left")
        .select(
            F.col("a").alias("from_type"),
            F.col("c").alias("to_type"),
            "p2_micro",
            (F.coalesce(F.col("p1p"), F.lit(0)) * 1000)
            .cast("long")
            .alias("p1_micro"),
        )
        .orderBy("from_type", "to_type")
    )

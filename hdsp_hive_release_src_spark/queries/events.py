"""SURVEY.md §2.3 — events / time-series analytics (batch).

Time bucketing, gap sessionization, funnels, retention cohorts, as-of
joins: the operator set a Hive-class engine is asked for on event logs,
re-expressed as window/agg compositions (single shuffle on user_id for
everything per-user; day buckets aggregate map-side first).

DuckDB oracle notes: events.ts is nanosecond parquet; the catalog
floors it to microseconds (catalog.py), so oracles CAST(ts AS
TIMESTAMP) to get the same truncation, and timestamps that cross the
comparison boundary are emitted as epoch-micros BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.operators.asof import asof_join
from hdsp_hive_release_src_spark.operators.sessionize import sessionize
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
    # the two-scan plan, and keeping it was (through r15) the one
    # registry-wide documented retention. r16: the deferred-release
    # boundary (operators/materialize.defer_release, flushed by the
    # registry's query wrapper at the next call) closes it — the
    # consumer's collect builds the cache and reads it from both
    # sides, then the boundary flush unpersists. Zero documented
    # retentions remain (tools/run_gates.py flags every retained
    # cache; tests/test_materialize_tier.py pins the lifecycle).
    from hdsp_hive_release_src_spark.operators.materialize import (
        defer_release,
        persist_fact_rows,
    )

    both = persist_fact_rows(
        ev.where(F.col("event_type").isin("purchase", "view")).select(
            "user_id", "event_id", "ts", "event_type"
        )
    )
    defer_release(lambda: both.unpersist(blocking=False))
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

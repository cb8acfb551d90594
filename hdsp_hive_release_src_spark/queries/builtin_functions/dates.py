"""Builtin functions: dates, timestamps, intervals and time zones."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.registry import query


@query(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(month(o_orderdate) AS BIGINT) AS o_month,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS o_day,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2000-01-01')
                AS BIGINT) AS days_to_y2k
    FROM orders ORDER BY o_orderkey LIMIT 100
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive date builtin suite: year/month/day/date_trunc/datediff."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
            F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.datediff(
                F.lit("2000-01-01").cast("timestamp"), F.col("o_orderdate")
            )
            .cast("long")
            .alias("days_to_y2k"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


@query(
    "date_builtins_extended",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           count(*) AS n_orders,
           CAST(min(epoch(o_orderdate)) AS BIGINT) AS min_epoch,
           max(last_day(CAST(o_orderdate AS DATE))) AS max_month_end,
           CAST(min(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH)
                AS DATE) AS min_plus_3m
    FROM orders
    GROUP BY year(o_orderdate)
    ORDER BY y
    """,
)
def date_builtins_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unix_timestamp / last_day / add_months per order-year. The
    session is pinned to UTC (tune_for_oracle) so epoch seconds agree
    with DuckDB's epoch(); add_months clamps day-of-month identically
    to DuckDB's + INTERVAL MONTH."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.groupBy(F.year("o_orderdate").alias("y"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.unix_timestamp("o_orderdate")).alias("min_epoch"),
            F.max(F.last_day("o_orderdate")).alias("max_month_end"),
            F.min(F.add_months("o_orderdate", 3)).alias("min_plus_3m"),
        )
        .orderBy("y")
    )


@query(
    "date_trunc_variants",
    oracle="""
    SELECT CAST(date_trunc('week', CAST(o_orderdate AS TIMESTAMP))
                AS TIMESTAMP) AS wk,
           CAST(date_trunc('quarter', CAST(o_orderdate AS TIMESTAMP))
                AS TIMESTAMP) AS qtr,
           count(*) AS n
    FROM orders GROUP BY wk, qtr ORDER BY wk, qtr
    """,
)
def date_trunc_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc at the divergence-prone granularities: 'week' (ISO
    Monday start — engines disagreeing on week start silently shifts
    every weekly report) and 'quarter'. Parity proves both engines
    share the ISO convention on this data."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.groupBy(
            F.date_trunc("week", F.col("o_orderdate")).alias("wk"),
            F.date_trunc("quarter", F.col("o_orderdate")).alias("qtr"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("wk", "qtr")
    )


@query(
    "interval_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 3 MONTH
                + INTERVAL 10 DAY AS TIMESTAMP) AS due_ts,
           CAST(datediff('day', CAST(o_orderdate AS TIMESTAMP),
                TIMESTAMP '2024-12-31') AS INTEGER) AS days_to_eoy,
           CAST(12 * (2024 - year(o_orderdate))
                + (12 - month(o_orderdate)) AS BIGINT) AS months_to_2025
    FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey
    """,
)
def interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic: month+day interval addition (calendar-aware
    — adding 3 months to Jan 31 clamps correctly), day differences to
    a fixed horizon, and a whole-month countdown derived from parts
    (kept integral so both engines agree exactly — fractional
    months_between is engine-defined)."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 400)
    od = F.col("o_orderdate").cast("timestamp")
    return o.select(
        "o_orderkey",
        (od + F.expr("INTERVAL 3 MONTH") + F.expr("INTERVAL 10 DAY"))
        .alias("due_ts"),
        F.datediff(F.lit("2024-12-31").cast("timestamp"), od)
        .cast("int")
        .alias("days_to_eoy"),
        (12 * (2024 - F.year(od)) + (12 - F.month(od)))
        .cast("long")
        .alias("months_to_2025"),
    ).orderBy("o_orderkey")


@query(
    "date_builtins_wave3",
    oracle="""
    SELECT o_orderkey,
           round((year(o_orderdate) - 2023) * 12
                 + (month(o_orderdate) - 1)
                 + CASE WHEN day(o_orderdate) = 15 THEN 0.0
                        ELSE (day(o_orderdate) - 15) / 31.0 END,
                 4) AS mb_anchor,
           CAST(o_orderdate + INTERVAL (
                 CASE WHEN (8 - isodow(o_orderdate)) % 7 = 0 THEN 7
                      ELSE (8 - isodow(o_orderdate)) % 7 END) DAY
               AS DATE) AS next_monday,
           CAST(week(o_orderdate) AS INTEGER) AS iso_week,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow
    FROM orders WHERE o_orderkey < 2000
    ORDER BY o_orderkey
    """,
)
def date_builtins_wave3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining date built-ins: months_between against a fixed
    anchor (fractional (day₁−day₂)/31 rule replayed arithmetically in
    the oracle — equal day-of-month yields exact integers), next_day
    to the following Monday (strictly after, hence the %7→7 wrap in
    the oracle's isodow arithmetic), ISO week number, quarter, and
    dayofweek (Spark 1=Sunday vs DuckDB 0=Sunday, hence +1). All
    map-only."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 2000)
    return o.select(
        "o_orderkey",
        F.round(
            F.months_between(
                F.col("o_orderdate"), F.lit("2023-01-15").cast("date")
            ),
            4,
        ).alias("mb_anchor"),
        F.next_day("o_orderdate", "MO").alias("next_monday"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow"),
    ).orderBy("o_orderkey")


@query(
    "timezone_conversions",
    oracle="""
    SELECT event_id,
           CAST(CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC'
                AT TIME ZONE 'America/New_York' AS TIMESTAMP) AS ny_ts,
           CAST(hour(CAST(CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC'
                AT TIME ZONE 'Asia/Tokyo' AS TIMESTAMP)) AS INTEGER)
               AS tokyo_hour,
           TRUE AS roundtrip_ok
    FROM events WHERE event_id < 2000 ORDER BY event_id
    """,
)
def timezone_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_utc_timestamp / to_utc_timestamp — the wall-clock
    reporting conversions every global warehouse runs at the
    presentation edge (storage stays UTC; conversion is per-query).
    The NY and Tokyo conversions are value-checked against DuckDB's
    ICU AT TIME ZONE chain, and the roundtrip_ok flag carries the
    computed to_utc(from_utc(ts)) == ts invariant (not a literal).
    January data pins the US offset to EST; a DST-boundary dataset
    would exercise the gap/overlap rules the same code path
    handles."""
    ev = Catalog(spark, sf_dir).events.where(F.col("event_id") < 2000)
    ny = F.from_utc_timestamp("ts", "America/New_York")
    back = F.to_utc_timestamp(ny, "America/New_York")
    return ev.select(
        "event_id",
        ny.alias("ny_ts"),
        F.hour(F.from_utc_timestamp("ts", "Asia/Tokyo"))
        .cast("int")
        .alias("tokyo_hour"),
        (back == F.col("ts")).alias("roundtrip_ok"),
    ).orderBy("event_id")


@query(
    "datetime_constructors",
    oracle="""
    SELECT o_orderkey,
           make_date(2020 + CAST(o_orderkey % 5 AS INT),
                     1 + CAST(o_orderkey % 12 AS INT),
                     1 + CAST(o_orderkey % 28 AS INT)) AS built_date,
           make_timestamp(2021, 6, 15,
                          CAST(o_orderkey % 24 AS INT),
                          CAST(o_orderkey % 60 AS INT),
                          (o_orderkey % 60) + 0.25) AS built_ts,
           dayofyear(CAST(o_orderdate AS DATE)) AS doy,
           strftime(to_timestamp(1600000000 + o_orderkey * 3600)
                    AT TIME ZONE 'UTC',
                    '%Y-%m-%d %H:%M:%S') AS from_unix,
           CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
               AS to_unix,
           CAST(o_orderdate AS TIMESTAMP)
               + INTERVAL 1 DAY * (o_orderkey % 30)
               + INTERVAL 1 HOUR * (o_orderkey % 12) AS shifted,
           TRY_CAST('definitely not a date' AS TIMESTAMP)
               AS bad_ts_null
    FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey
    """,
)
def datetime_constructors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime constructor family: make_date / make_timestamp
    (fractional seconds included), dayofyear, from_unixtime /
    unix_timestamp (the epoch bridge — both sessions pinned UTC so
    the string forms agree), interval arithmetic via make_interval,
    and try_to_timestamp's NULL-not-error contract on garbage input.
    Per-row expressions only."""
    o = Catalog(spark, sf_dir).orders
    k = F.col("o_orderkey")
    return (
        o.where(k < 400)
        .select(
            "o_orderkey",
            F.make_date(
                (k % 5 + 2020).cast("int"),
                (k % 12 + 1).cast("int"),
                (k % 28 + 1).cast("int"),
            ).alias("built_date"),
            F.expr(
                "make_timestamp(2021, 6, 15,"
                " cast(o_orderkey % 24 as int),"
                " cast(o_orderkey % 60 as int),"
                " (o_orderkey % 60) + 0.25)"
            ).alias("built_ts"),
            F.dayofyear("o_orderdate").alias("doy"),
            F.from_unixtime(
                F.lit(1600000000) + k * 3600
            ).alias("from_unix"),
            F.unix_timestamp("o_orderdate").alias("to_unix"),
            F.expr(
                "o_orderdate + make_interval(0, 0, 0,"
                " cast(o_orderkey % 30 as int),"
                " cast(o_orderkey % 12 as int), 0, 0)"
            ).alias("shifted"),
            F.try_to_timestamp(
                F.lit("definitely not a date")
            ).alias("bad_ts_null"),
        )
        .orderBy("o_orderkey")
    )


_EPOCH_ORACLE = """
WITH mn AS (
  SELECT min(CAST(ts AS TIMESTAMP)) AS mints,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events)
SELECT
  strftime(to_timestamp(1700000000)::TIMESTAMP,
           '%Y-%m-%d %H:%M:%S') AS ts_from_seconds,
  strftime(epoch_ms(1700000000123)::TIMESTAMP,
           '%Y-%m-%d %H:%M:%S.%g') AS ts_from_millis,
  CAST(epoch_us(TIMESTAMP '2023-11-14 22:13:20') // 1000000
       AS BIGINT) AS unix_s,
  CAST(epoch_ms(TIMESTAMP '2023-11-14 22:13:20.123')
       AS BIGINT) AS unix_ms,
  CAST(date_diff('day', DATE '1970-01-01', DATE '2024-03-01')
       AS BIGINT) AS unix_d,
  CAST(DATE '1970-01-01' + INTERVAL 19783 DAY AS DATE)
      AS date_from_unix_d,
  CAST(epoch_us(TIMESTAMP '2024-03-01 12:00:00') // 1000000
       AS BIGINT) AS to_unix_ts,
  left(dayname(DATE '2024-03-01'), 3) AS day_name,
  left(monthname(DATE '2024-03-01'), 3) AS month_name,
  strftime(TIMESTAMP '2024-03-09 12:00:00'
           AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York',
           '%Y-%m-%d %H:%M:%S') AS ny_before_dst,
  strftime(TIMESTAMP '2024-03-10 12:00:00'
           AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York',
           '%Y-%m-%d %H:%M:%S') AS ny_after_dst,
  strftime(TIMESTAMP '2024-01-01 00:00:00'
           + INTERVAL '1 day 2 hours 3 minutes 4.5 seconds',
           '%Y-%m-%d %H:%M:%S.%g') AS anchor_plus_dt,
  CAST(DATE '2024-01-15' + INTERVAL '1 year 7 months' AS DATE)
      AS anchor_plus_ym,
  CAST(epoch_us(mn.mints) // 1000000 AS BIGINT) AS min_event_unix_s,
  mn.n_events
FROM mn
"""


@query("epoch_timezone_matrix", oracle=_EPOCH_ORACLE)
def epoch_timezone_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch/timezone/interval constructor matrix:
    timestamp_seconds / timestamp_millis and their unix_* inverses,
    unix_date / date_from_unix_date, to_unix_timestamp,
    dayname/monthname (normalized to 3 letters — DuckDB spells them
    out), convert_timezone probed ON BOTH SIDES of the 2024 US DST
    spring-forward (2024-03-09 12:00 UTC → NY 07:00 EST but
    2024-03-10 12:00 UTC → NY 08:00 EDT — a tz-table regression
    flips exactly one of the two), and make_dt_interval /
    make_ym_interval verified by their EFFECT on anchor dates
    (interval string forms differ by engine; the arithmetic cannot).
    The events min-timestamp epoch and row count anchor the matrix
    to real data. All literal work is constant-folded; the only scan
    is the 1-row min/count aggregate."""
    ev = Catalog(spark, sf_dir).events
    mn = ev.agg(
        F.min("ts").alias("mints"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return mn.select(
        F.expr(
            "date_format(timestamp_seconds(1700000000),"
            " 'yyyy-MM-dd HH:mm:ss')"
        ).alias("ts_from_seconds"),
        F.expr(
            "date_format(timestamp_millis(1700000000123),"
            " 'yyyy-MM-dd HH:mm:ss.SSS')"
        ).alias("ts_from_millis"),
        F.expr("unix_seconds(TIMESTAMP '2023-11-14 22:13:20')")
        .cast("long")
        .alias("unix_s"),
        F.expr("unix_millis(TIMESTAMP '2023-11-14 22:13:20.123')")
        .cast("long")
        .alias("unix_ms"),
        F.expr("unix_date(DATE '2024-03-01')")
        .cast("long")
        .alias("unix_d"),
        F.expr("date_from_unix_date(19783)").alias("date_from_unix_d"),
        F.expr("to_unix_timestamp('2024-03-01 12:00:00')")
        .cast("long")
        .alias("to_unix_ts"),
        F.expr("dayname(DATE '2024-03-01')").alias("day_name"),
        F.expr("monthname(DATE '2024-03-01')").alias("month_name"),
        F.expr(
            "date_format(convert_timezone('UTC', 'America/New_York',"
            " TIMESTAMP_NTZ '2024-03-09 12:00:00'),"
            " 'yyyy-MM-dd HH:mm:ss')"
        ).alias("ny_before_dst"),
        F.expr(
            "date_format(convert_timezone('UTC', 'America/New_York',"
            " TIMESTAMP_NTZ '2024-03-10 12:00:00'),"
            " 'yyyy-MM-dd HH:mm:ss')"
        ).alias("ny_after_dst"),
        F.expr(
            "date_format(TIMESTAMP '2024-01-01 00:00:00'"
            " + make_dt_interval(1, 2, 3, 4.5),"
            " 'yyyy-MM-dd HH:mm:ss.SSS')"
        ).alias("anchor_plus_dt"),
        F.expr(
            "cast(DATE '2024-01-15' + make_ym_interval(1, 7) as date)"
        ).alias("anchor_plus_ym"),
        F.expr("unix_seconds(cast(mints as timestamp))")
        .cast("long")
        .alias("min_event_unix_s"),
        "n_events",
    )


@query(
    "date_parse_formats",
    oracle="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS TIMESTAMP), '%Y/%m/%d')
               AS slash_form,
           strftime(CAST(o_orderdate AS TIMESTAMP), '%d-%b-%Y')
               AS dmy_form,
           CAST(strptime(strftime(CAST(o_orderdate AS TIMESTAMP),
                '%Y/%m/%d'), '%Y/%m/%d') AS TIMESTAMP) AS reparsed
    FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey
    """,
)
def date_parse_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_format / to_timestamp custom patterns — the
    format-string surface every Hive report and ingest script leans
    on, exercised as a round trip: format to two layouts (numeric and
    abbreviated-month) and re-parse back to the original timestamp.
    Each engine uses its own pattern dialect (Java letters vs
    strftime) but must produce the identical text and re-parsed
    instant."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 400)
    od = F.col("o_orderdate").cast("timestamp")
    slash = F.date_format(od, "yyyy/MM/dd")
    return o.select(
        "o_orderkey",
        slash.alias("slash_form"),
        F.date_format(od, "dd-MMM-yyyy").alias("dmy_form"),
        F.to_timestamp(slash, "yyyy/MM/dd").alias("reparsed"),
    ).orderBy("o_orderkey")


@query(
    "extract_field_matrix",
    oracle="""
    SELECT o_orderkey,
           date_part('year', o_orderdate) AS y,
           date_part('quarter', o_orderdate) AS q,
           date_part('month', o_orderdate) AS mo,
           date_part('week', o_orderdate) AS wk,
           date_part('day', o_orderdate) AS d,
           date_part('doy', o_orderdate) AS doy,
           date_part('dow', o_orderdate) + 1 AS dow_sun1,
           date_part('hour', o_orderdate) AS h,
           date_part('minute', o_orderdate) AS mi,
           CAST(date_part('second', o_orderdate) AS BIGINT) AS s
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
)
def extract_field_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_part / EXTRACT across the full field set in one query —
    year, quarter, month, ISO week, day, day-of-year, day-of-week,
    hour, minute, second. The one cross-engine trap is handled where
    it lives: Spark's DOW is 1=Sunday while DuckDB's is 0=Sunday, so
    the oracle shifts (+1) rather than both sides pretending the
    field agrees. Integer outputs only."""
    o = Catalog(spark, sf_dir).orders
    d = F.col("o_orderdate")
    return (
        o.where(F.col("o_orderkey") < 500)
        .select(
            "o_orderkey",
            F.expr("extract(YEAR FROM o_orderdate)").cast("long").alias("y"),
            F.expr("extract(QUARTER FROM o_orderdate)").cast("long").alias("q"),
            F.expr("extract(MONTH FROM o_orderdate)").cast("long").alias("mo"),
            F.weekofyear(d).cast("long").alias("wk"),
            F.expr("extract(DAY FROM o_orderdate)").cast("long").alias("d"),
            F.dayofyear(d).cast("long").alias("doy"),
            F.dayofweek(d).cast("long").alias("dow_sun1"),
            F.hour(d).cast("long").alias("h"),
            F.minute(d).cast("long").alias("mi"),
            F.second(d).cast("long").alias("s"),
        )
        .orderBy("o_orderkey")
    )

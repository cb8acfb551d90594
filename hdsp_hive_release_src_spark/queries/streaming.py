"""Streaming domain: Structured Streaming queries.

Windowed and stateful aggregation, stream joins, dedup, watermarks and
late data, sinks, triggers, exactly-once checkpoints and Python
streaming data sources. Each query drains a bounded source to
completion and returns the final sink state.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.registry import query
from hdsp_hive_release_src_spark.sources.io import scratch_path
from hdsp_hive_release_src_spark.sources.python_datasources import (
    PYSTREAM_N,
    PYSTREAM_STEP,
    CounterStreamSource,
    TwoPhaseFileSink,
)
from hdsp_hive_release_src_spark.streaming import jobs


@query(
    "stream_windowed_counts",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY day, event_type ORDER BY day, event_type
    """,
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-day counts ≡ batch day buckets (UTC epoch-
    aligned windows make window.start == date_trunc('day'))."""
    return jobs.windowed_counts(spark, sf_dir).orderBy("day", "event_type")


@query(
    "stream_sessionization",
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
             CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      FROM tagged
    )
    SELECT user_id, count(*) AS n_events,
           CAST(min(epoch_us(ts)) AS BIGINT) AS start_us
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, start_us
    """,
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session_window(30 min) ≡ batch gap sessions.
    Boundary note: session_window closes at gap >= threshold (window is
    [start, last+gap)), so the oracle uses >= where the batch
    `sessionization` query uses > — distinguishable only by an exact-
    to-the-microsecond 30:00.000000 gap."""
    return jobs.session_windows(spark, sf_dir).orderBy(
        "user_id", "start_us"
    )


@query(
    "stream_stateful_user_agg",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_stateful_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running per-user aggregate ≡ batch
    GROUP BY once the stream drains — explicit GroupState, Arrow
    batches, update-mode emission (SURVEY.md §2.3)."""
    return jobs.stateful_running_agg(spark, sf_dir).orderBy("user_id")


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id, count(*) AS n_pairs
    FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts
          FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts
          FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.purchase_ts >= v.view_ts
     AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
    GROUP BY v.user_id ORDER BY v.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (view → purchase ≤ 1 h,
    same user) ≡ the batch interval join once both streams drain."""
    return jobs.stream_stream_interval_join(spark, sf_dir).orderBy(
        "user_id"
    )


@query(
    "stream_parquet_sink",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch → parquet sink, then a batch read-back aggregation
    ≡ the batch aggregate (loss or duplication in the sink breaks
    parity)."""
    return jobs.stream_to_parquet_sink(spark, sf_dir)


@query(
    "stream_dedup",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates ≡ batch COUNT(DISTINCT) after the
    order-insensitive rollup."""
    return jobs.stream_distinct(spark, sf_dir)


@query(
    "stream_late_data",
    oracle="""
    WITH mx AS (SELECT date_trunc('day', max(CAST(ts AS TIMESTAMP)))
                    AS max_day FROM events)
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events, mx
    WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-03'
      AND date_trunc('day', CAST(ts AS TIMESTAMP)) < max_day
    GROUP BY day ORDER BY day
    """,
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-data drop, deterministically replayed (two
    ordered files, maxFilesPerTrigger=1): the pre-cutoff rows arrive
    after the watermark has passed them and MUST be excluded, and the
    still-open last-day window MUST be withheld (append mode). The
    oracle encodes exactly that expectation from the batch table."""
    return jobs.late_data_windowed(spark, sf_dir)


@query(
    "stream_static_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(sum(value), 2)
               AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched with the static customer dim (see
    streaming/jobs.py::static_enrich_join) — per-segment totals over
    the drained stream must equal the batch join."""
    return jobs.static_enrich_join(spark, sf_dir)


@query(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2)
               AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-state streaming dedup (see streaming/jobs.py::
    dedup_within_watermark): a doubled source collapsed back to
    exactly the batch per-type totals."""
    return jobs.dedup_within_watermark(spark, sf_dir)


@query(
    "stream_foreachbatch_upsert",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           CAST(max(CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS last_ts
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """foreachBatch MERGE/upsert into a parquet state table across 3
    replayed micro-batches (see streaming/jobs.py::foreachbatch_upsert)
    — the final per-user state must equal the batch aggregation no
    matter how the stream was batched."""
    return jobs.foreachbatch_upsert(spark, sf_dir)


@query(
    "stream_trigger_available_now",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2)
               AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_trigger_available_now(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trigger.AvailableNow one-shot drain (see streaming/jobs.py::
    trigger_available_now) — self-terminating incremental batch run,
    result ≡ the batch aggregation."""
    return jobs.trigger_available_now(spark, sf_dir)


#: rate-micro-batch parameters, shared with the arithmetic oracle.
_RATE_ROWS = 512
_RATE_START_MS = 1_600_000_000_000


@query(
    "stream_rate_source",
    oracle=f"""
    WITH v AS (SELECT unnest(range(0, {_RATE_ROWS})) AS value)
    SELECT CAST(value % 8 AS BIGINT) AS lane,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(value) AS BIGINT) AS value_sum,
           CAST(min(value) AS BIGINT) AS lo,
           CAST(max(value) AS BIGINT) AS hi,
           strftime(to_timestamp({_RATE_START_MS} / 1000)
                    AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS batch_ts
    FROM v GROUP BY lane ORDER BY lane
    """,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rate-micro-batch built-in streaming SOURCE (the second
    jar-free source next to the file source the rest of the family
    reads): deterministic generated batches — rowsPerBatch rows with
    values 0..n-1 and a fixed startTimestamp per batch — consumed
    with trigger(availableNow) into a memory sink, then aggregated
    into 8 lanes. Because generation is arithmetic, the oracle is
    closed-form (range + modulo), giving a FULL value-parity check of
    a streaming source+trigger path with zero filesystem dependency.
    This is also the load-generator used for throughput smoke tests
    on real clusters."""
    from pyspark.sql import functions as F

    name = "rate_src_r7"
    df = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", _RATE_ROWS)
        .option("numPartitions", 4)
        .option("startTimestamp", _RATE_START_MS)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return (
        spark.table(name)
        .groupBy((F.col("value") % 8).alias("lane"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").cast("long").alias("value_sum"),
            F.min("value").cast("long").alias("lo"),
            F.max("value").cast("long").alias("hi"),
            F.date_format(
                F.min("timestamp"), "yyyy-MM-dd HH:mm:ss"
            ).alias("batch_ts"),
        )
        .orderBy("lane")
    )


@query(
    "stream_checkpoint_exactly_once",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT)
               AS n_distinct_event_ids,
           CAST(0 AS BIGINT) AS n_duplicates
    FROM events
    """,
)
def stream_checkpoint_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint recovery = exactly-once: the SAME availableNow
    query runs TWICE against the same checkpoint and parquet sink.
    Run 1 drains the source and commits its progress; run 2 restarts
    from the checkpoint, finds nothing new, and must append NOTHING —
    the file-source offsets + sink commit log are the exactly-once
    mechanism (vs stream_parquet_sink's rerun-idempotency pattern,
    which clears the sink instead). The output proves it: sink row
    count equals the source exactly, every event_id appears once,
    duplicates are zero. A checkpoint regression (reprocessing after
    restart) would double n_rows and fail the value hash."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path
    from hdsp_hive_release_src_spark.streaming.jobs import (
        read_events_stream,
    )

    sink = scratch_path("ckpt_once_sink", sf_dir)
    ckpt = scratch_path("ckpt_once_state", sf_dir)
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    for _ in range(2):
        q = (
            read_events_stream(spark, sf_dir)
            .select("event_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(120)
        q.stop()
        if not finished:
            raise TimeoutError("availableNow drain did not finish")
    back = spark.read.parquet(sink)
    from pyspark.sql import functions as F

    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("event_id")
        .cast("long")
        .alias("n_distinct_event_ids"),
        (
            F.count(F.lit(1)) - F.count_distinct("event_id")
        )
        .cast("long")
        .alias("n_duplicates"),
    )


# --------------------------------------------------------------------
# streaming output-mode parity
# --------------------------------------------------------------------

@query(
    "stream_output_modes",
    oracle="""
    WITH day_counts AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                  AS TIMESTAMP) AS day,
             event_type, count(*) AS n
      FROM events GROUP BY day, event_type)
    SELECT mode, day, event_type, n
    FROM day_counts
    CROSS JOIN (VALUES ('complete'), ('update')) AS m(mode)
    ORDER BY mode, day, event_type
    """,
)
def stream_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-mode parity: the SAME tumbling-day aggregation run in
    complete mode (memory sink holds the full result) and update mode
    (foreachBatch upserts last-write-wins into a dict keyed by group —
    the idempotent-merge contract update mode requires of its sink).
    Both must converge to the batch truth regardless of how the file
    source batches the input — which is exactly the guarantee a
    100 TB streaming backfill leans on when it replays history through
    the same query that serves live traffic."""
    from hdsp_hive_release_src_spark.streaming import jobs

    ev = jobs.read_events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))

    # complete mode: memory sink IS the full result table
    name = jobs.run_to_memory(agg, "complete", "out_modes")
    complete = (
        spark.table(name)
        .select(
            F.lit("complete").alias("mode"),
            F.col("w.start").alias("day"),
            "event_type",
            "n",
        )
    )

    # update mode: last-write-wins upsert per group via foreachBatch
    state: dict[tuple, int] = {}

    def upsert(bdf: DataFrame, batch_id: int) -> None:
        for r in bdf.collect():
            state[(r["w"]["start"], r["event_type"])] = r["n"]

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    upd_rows = [
        ("update", day, et, n) for (day, et), n in state.items()
    ]
    update = spark.createDataFrame(
        upd_rows, "mode string, day timestamp, event_type string, n long"
    )
    return complete.unionByName(update).orderBy(
        "mode", "day", "event_type"
    )


# --------------------------------------------------------------------
# chained streaming windows
# --------------------------------------------------------------------

@query(
    "stream_chained_windows",
    oracle="""
    WITH b AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
    mx AS (SELECT max(ts) AS m FROM b),
    hourly AS (
      SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
             event_type, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY 1, 2, 3),
    daily AS (
      SELECT d, event_type,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(max(c) AS BIGINT) AS max_hour
      FROM hourly GROUP BY d, event_type)
    SELECT d AS day, event_type, n_events, n_hours, max_hour
    FROM daily, mx
    WHERE d + INTERVAL 1 DAY <= mx.m - INTERVAL 1 HOUR
    ORDER BY day, event_type
    """,
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained hourly→daily windows in one streaming query (multiple
    stateful operators, append mode) — see
    streaming/jobs.py::chained_windows for the state-bound analysis.
    The oracle replays the batch rollup and keeps exactly the days
    the append watermark finalizes (day end ≤ max ts − 1 h)."""
    from hdsp_hive_release_src_spark.streaming import jobs

    return jobs.chained_windows(spark, sf_dir).orderBy(
        "day", "event_type"
    )


_PYSTREAM_ORACLE = f"""
SELECT CAST(i % 7 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(i) AS BIGINT) AS sum_i,
       CAST(sum(i * i) AS BIGINT) AS sum_sq
FROM range({PYSTREAM_N}) t(i)
GROUP BY 1 ORDER BY 1
"""


@query("python_datasource_stream", oracle=_PYSTREAM_ORACLE)
def python_datasource_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A user-defined Python STREAMING source run to completion:
    {PYSTREAM_N} counter rows arrive in ragged {PYSTREAM_STEP}-row
    micro-batches through ``SimpleDataSourceStreamReader`` (the
    engine checkpoints the reader's offsets between batches), drained
    with processAllAvailable into a memory sink, then aggregated per
    mod-7 bucket. The oracle is the closed-form range aggregate — a
    skipped or replayed micro-batch changes every bucket, so
    exactly-once offset progression is precisely what the gate
    checks. cites pyspark.sql.datasource (public API)."""
    try:
        spark.dataSource.register(CounterStreamSource)
    except Exception:
        pass
    df = (
        spark.readStream.format("pycounterstream")
        .option("n", PYSTREAM_N)
        .option("step", PYSTREAM_STEP)
        .load()
    )
    qname = "pystream_counter_sink"
    q = (
        df.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(qname)
        .groupBy((F.col("i") % 7).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("i").cast("long").alias("sum_i"),
            F.sum("sq").cast("long").alias("sum_sq"),
        )
        .orderBy("bucket")
    )


_SINK_ORACLE = f"""
SELECT CAST(i % 9 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(i) AS BIGINT) AS sum_i,
       CAST(sum(i * i) AS BIGINT) AS sum_sq
FROM range({PYSTREAM_N}) t(i)
GROUP BY 1 ORDER BY 1
"""


@query("python_datasource_stream_sink", oracle=_SINK_ORACLE)
def python_datasource_stream_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bounded counter stream written through a USER-DEFINED
    streaming sink with a real two-phase commit (temp file per task →
    commit message → driver rename on ``commit(batchId)``), then read
    back from the committed files only and aggregated per mod-9
    bucket against the closed-form oracle. A replayed or lost
    micro-batch, a double-committed partition, or a leaked
    uncommitted attempt all shift the bucket sums — so the 2PC
    contract itself is what the gate verifies. Checkpointed to a
    per-scale scratch dir; data+checkpoint are wiped first, making
    re-runs deterministic."""
    path = scratch_path("twophasesink", sf_dir)
    ckpt = scratch_path("twophasesink_ckpt", sf_dir)
    for d in (path, ckpt):
        if os.path.isdir(d):
            import shutil

            shutil.rmtree(d)
    for src in (CounterStreamSource, TwoPhaseFileSink):
        try:
            spark.dataSource.register(src)
        except Exception:
            pass
    df = (
        spark.readStream.format("pycounterstream")
        .option("n", PYSTREAM_N)
        .option("step", PYSTREAM_STEP)
        .load()
    )
    q = (
        df.writeStream.format("twophasefilesink")
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = (
        spark.read.text(os.path.join(path, "b*.txt"))
        .select(
            F.split(F.col("value"), ",")[0].cast("long").alias("i"),
            F.split(F.col("value"), ",")[1].cast("long").alias("sq"),
        )
    )
    return (
        back.groupBy((F.col("i") % 9).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("i").cast("long").alias("sum_i"),
            F.sum("sq").cast("long").alias("sum_sq"),
        )
        .orderBy("bucket")
    )


@query(
    "watermark_lateness_profile",
    oracle="""
    WITH arr AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
             max(CAST(ts AS TIMESTAMP)) OVER
               (ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS high_water
      FROM events),
    late AS (
      SELECT CAST((epoch_us(high_water) - epoch_us(ts)) / 1000000.0
                  AS DOUBLE) AS lateness_s
      FROM arr)
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN lateness_s > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_out_of_order,
           round(max(lateness_s), 2) AS max_lateness_s,
           round(quantile_cont(lateness_s, 0.99), 2) AS p99_lateness_s
    FROM late
    """,
)
def watermark_lateness_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Out-of-orderness profile — the measurement that SETS a
    watermark delay instead of guessing it: replaying events in
    arrival order (event_id), each event's lateness is how far it
    trails the running event-time high-water mark; the p99/max tell
    you what `withWatermark` delay keeps (almost) everything while
    bounding state. The running max is a single ordered pass in
    arrival order — in production this profile is computed per
    partition/source (arrival order only exists per partition), here
    globally so the oracle can replay it exactly."""
    ev = Catalog(spark, sf_dir).events
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    arr = ev.select(
        "ts", F.max("ts").over(w).alias("high_water")
    )
    late = arr.select(
        (
            (
                F.unix_micros("high_water") - F.unix_micros("ts")
            )
            / 1e6
        ).alias("lateness_s")
    )
    late.createOrReplaceTempView("lateness_src")
    return spark.sql(
        """
        SELECT CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN lateness_s > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_out_of_order,
               round(max(lateness_s), 2) AS max_lateness_s,
               round(percentile_cont(0.99) WITHIN GROUP
                     (ORDER BY lateness_s), 2) AS p99_lateness_s
        FROM lateness_src
        """
    )

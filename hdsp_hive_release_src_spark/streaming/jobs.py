"""Structured Streaming jobs, driven to completion over the file source.

Each job reads the events parquet as a stream (exactly the pattern a
Kafka-backed deployment would use — swap ``readStream.parquet`` for
``readStream.format("kafka")``), runs a stateful operator (tumbling
window / session window / dedup), sinks to an in-memory table with
``processAllAvailable()``, and returns the materialized result as a
batch DataFrame.

Batch-equivalence: with the whole dataset processed, complete-mode
results must equal the corresponding batch query — which is exactly
what the DuckDB oracles check (streaming ops with batch-equal
semantics get FULL oracles here, not rows-only).
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.session import core_count

_COUNTER = itertools.count()


def state_shuffle_partitions() -> int:
    """Shuffle-partition count for STATEFUL streaming queries (r16,
    guide §2.2/§2.4): every stateful operator instantiates one state
    store per shuffle partition per micro-batch (provider init,
    version files, snapshot/commit bookkeeping) — a per-partition
    fixed cost that dwarfs the per-row work when the state key space
    is small. Every stream in this module keys its state by a bounded
    space (day×type windows ≤150, event types ≤5, user sessions at
    test scale ≤~10k), so the batch-tier partition count (sized for
    corpus shuffles) is pure overhead here: measured on the 10×-sf0.1
    replica, stream_windowed_counts runs 2.6-4.2 s at 32 partitions
    vs 1.7-2.0 s at 8 vs 1.2-1.4 s at 4 — identical results. Default:
    cores/4 clamped to [4, 32] (parallelism still scales with the
    box; the state-store constant shrinks 4×). A real deployment
    sizes state partitions to key cardinality × throughput and MUST
    set SPARK_GRAFT_STREAM_SHUFFLE instead (state partitioning is
    frozen into a stream's checkpoint at first start — it cannot be
    re-derived later)."""
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if env:
        return int(env)
    return max(4, min(core_count() // 4, 32))


@contextmanager
def stateful_partitioning(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to the stateful-stream
    sizing for a start→drain→stop region, restoring the batch value
    after (the conf is read at stream start; batch queries in the
    same session must keep their own sizing)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(state_shuffle_partitions())
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table, normalizing ``ts`` to TIMESTAMP exactly
    like the batch catalog: testdata drops have shipped ts as epoch-
    nanos long, TIMESTAMP(NANOS), and plain TIMESTAMP(MICROS). Probe
    the real footer with pyarrow (conf-free) and only then the Spark
    schema (streaming file sources need an explicit schema).

    ``nanosAsLong`` is set ONLY when the footer actually carries
    TIMESTAMP(NANOS) — and must then STAY set for the stream's own
    execution (the micro-batch reads need it). Setting it
    unconditionally would make every later batch read of nanos parquet
    in the shared session silently yield longs."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, TimestampNTZType

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    probe = path
    if _os.path.isdir(path):
        probe = next(iter(_glob.glob(f"{path}/*.parquet")), path)
    ts_type = str(pq.read_schema(probe).field("ts").type)
    # matches both naive "timestamp[ns]" and tz-adjusted
    # "timestamp[ns, tz=...]" renderings — either layout needs the
    # legacy long read or the batch probe below throws
    if ts_type.startswith("timestamp[ns"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # the streaming file source requires a directory. Two layouts
    # exist in the wild: testdata ships events.parquet as a single
    # FILE inside the shared sf_dir (stream the parent, glob-filter
    # the one table out), while Spark-written datasets (the 10×
    # stress replica, any real warehouse) have events.parquet as a
    # DIRECTORY of part files (stream it directly — a pathGlobFilter
    # of 'events.parquet' matches file NAMES, so it would silently
    # yield an empty stream on this layout).
    if _os.path.isdir(path):
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir.rstrip("/"))
        )
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # watermarks/event-time ops require TIMESTAMP; session tz is
        # UTC (tune_for_oracle) so the cast is a pure retag.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


LAST_PROGRESS: list[dict] = []  # per-batch progress of the last run


def run_to_memory(
    agg: DataFrame, output_mode: str, prefix: str
) -> tuple[str, "SparkSession"]:
    """Start agg → memory sink, drain all available input, stop.
    Returns the (unique) sink table name. The run's per-batch progress
    (watermark, numRowsDroppedByWatermark, ...) is kept in
    LAST_PROGRESS so tests can assert streaming semantics actually
    fired, not just that the final values matched."""
    name = f"{prefix}_{next(_COUNTER)}"
    spark = agg.sparkSession
    with stateful_partitioning(spark):
        q = (
            agg.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            LAST_PROGRESS[:] = [dict(p) for p in q.recentProgress]
        finally:
            q.stop()
    return name


def windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows per event type (complete mode ≡ batch)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    name = run_to_memory(agg, "complete", "stream_win")
    return spark.table(name).select(
        F.col("w.start").alias("day"), "event_type", "n", "total_value"
    )


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap) per user — the streaming twin
    of operators/sessionize.py."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = run_to_memory(agg, "complete", "stream_sess")
    return spark.table(name).select(
        "user_id",
        "n_events",
        F.unix_micros("sw.start").cast("long").alias("start_us"),
    )


def stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, value-sum) carried in explicit GroupState across
    micro-batches — the arbitrary-stateful-processing escape hatch for
    operators session_window/dropDuplicates can't express.

    Each batch emits the user's cumulative state; counts increase
    monotonically, so the final answer is the max-count row per user
    regardless of how the source was micro-batched — making the result
    deterministic and batch-equivalent (full oracle)."""
    import pandas as pd  # noqa: PLC0415 — worker-side import pattern
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    ev = read_events_stream(spark, sf_dir)
    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = run_to_memory(out, "update", "stream_state")
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("raw_total"),
        )
    )
    return final.select(
        "user_id", "n_events", F.round("raw_total", 2).alias("total_value")
    )


def stream_stream_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream join: each view event joined to the
    same user's purchase events within the following hour. Both sides
    carry watermarks so the join state is bounded (the 100 TB-stream
    requirement — unbounded state OOMs); the time-interval predicate
    lets Spark expire rows past view_ts + 1h. Append-mode pairs sink
    to memory; the batch aggregation of the drained sink is
    batch-equivalent (full oracle)."""
    ev = read_events_stream(spark, sf_dir)
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    pairs = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND "
            "purchase_ts >= view_ts AND "
            "purchase_ts <= view_ts + INTERVAL 1 HOUR"
        ),
    )
    name = run_to_memory(pairs, "append", "stream_join")
    return (
        spark.table(name)
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def stream_to_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch production sink: each micro-batch lands in a
    parquet directory via the batch writer (the pattern for sinks the
    streaming API doesn't cover natively — upserts, JDBC, multi-table
    fan-out). Exactly-once here comes from rerun idempotency: the sink
    dir is cleared up front; in production foreachBatch dedupes on
    batchId instead."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    path = scratch_path("stream_sink", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    ev = read_events_stream(spark, sf_dir)

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.select("event_id", "event_type", "value").write.mode(
            "append"
        ).parquet(path)

    q = ev.writeStream.foreachBatch(write_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


def stream_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) → per-type distinct-user
    counts (dropDuplicates keeps first arrival; the projection makes
    the result order-insensitive)."""
    ev = read_events_stream(spark, sf_dir)
    dedup = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    name = run_to_memory(dedup, "append", "stream_dedup")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("event_type")
    )


def late_data_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, made DETERMINISTIC: the events
    table is split into three parquet files — bulk on-time rows
    (day 2 ≤ ts < day 28), tail on-time rows (ts ≥ day 28), and late
    rows (ts < day 2) — replayed oldest-file-first with
    maxFilesPerTrigger=1. Spark filters batch N's late records with the
    watermark committed after batch N-2 (eviction uses N-1's), so the
    tail batch sits between the watermark-raising bulk and the late
    arrivals: by batch 3 the filtering watermark is ~day 27 and every
    late row MUST be dropped (numRowsDroppedByWatermark — verified in
    tests). Append mode emits only watermark-finalized windows, so the
    still-open last day stays withheld. The oracle therefore expects
    exactly: day counts over on-time rows for every day strictly
    before the max day."""
    import os
    import shutil

    from hdsp_hive_release_src_spark.catalog import Catalog
    from hdsp_hive_release_src_spark.sources.io import scratch_path

    ev = Catalog(spark, sf_dir).events.select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cutoff = "2024-01-03"
    tail = "2024-01-28"
    src = scratch_path("late_stream_src", sf_dir)
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    now = __import__("time").time()
    for tag, frame, age in (
        (
            "b1_bulk",
            ev.where(
                (F.col("ts") >= F.lit(cutoff)) & (F.col("ts") < F.lit(tail))
            ),
            100,
        ),
        ("b2_tail", ev.where(F.col("ts") >= F.lit(tail)), 70),
        ("b3_late", ev.where(F.col("ts") < F.lit(cutoff)), 40),
    ):
        tmp = f"{src}/_{tag}_tmp"
        frame.coalesce(1).write.parquet(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.endswith(".parquet")
        )
        dst = f"{src}/{tag}.parquet"
        shutil.move(f"{tmp}/{part}", dst)
        shutil.rmtree(tmp)
        os.utime(dst, (now - age, now - age))  # oldest-first replay order

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    name = run_to_memory(agg, "append", "late_data")
    return (
        spark.table(name)
        .select(
            F.col("window.start").alias("day"), "n", "total_value"
        )
        .orderBy("day")
    )


def static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events feed enriched against a
    batch dimension table (customer market segments) — the canonical
    "enrich a Kafka stream with a warehouse dim" deployment. The static
    side is planned per micro-batch and broadcast (dim-sized), so no
    stream state is kept for it at all — unlike a stream-stream join,
    this scales with the dim, not the stream. Complete-mode agg over
    the whole finite input is batch-equivalent (full oracle)."""
    from hdsp_hive_release_src_spark.catalog import Catalog

    ev = read_events_stream(spark, sf_dir)
    dim = (
        Catalog(spark, sf_dir)
        .customer.select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    joined = ev.join(F.broadcast(dim), "user_id")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    name = run_to_memory(agg, "complete", "stream_static")
    return spark.table(name).orderBy("c_mktsegment")


def dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark (Spark 3.5+): exact-once dedup
    with BOUNDED state — keys expire once the watermark passes them,
    unlike plain streaming dropDuplicates whose key set grows forever
    (the state-OOM at stream scale). The source replays each event
    twice (union with itself), so every key IS duplicated in-flight;
    over the finite input with a generous delay the result must equal
    batch DISTINCT, which the oracle checks."""
    ev = read_events_stream(spark, sf_dir)
    doubled = ev.unionByName(ev)  # every event arrives twice
    deduped = doubled.withWatermark("ts", "10 days")\
        .dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    name = run_to_memory(agg, "complete", "stream_dedup_wm")
    return spark.table(name).orderBy("event_type")


def foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE/upsert sink: per-user running totals merged
    into a parquet state table batch by batch — the pattern for
    streaming into stores with no native streaming sink (JDBC, key
    stores, warehouse MERGE). The source replays in 3 time-ordered
    files (maxFilesPerTrigger=1), so most users are UPDATED across
    batches, not just inserted; the merge aggregates partials
    (n += n_inc, total += total_inc, last_ts = greatest) so the final
    state equals the batch aggregation regardless of how the stream
    was micro-batched — which is exactly what the oracle checks.
    State swaps are write-new-then-rename so a crashed batch can never
    leave a half-written table behind (at scale: MERGE into a
    transactional table keyed on batchId for exactly-once)."""
    import os
    import shutil
    import time as _time

    from hdsp_hive_release_src_spark.catalog import Catalog
    from hdsp_hive_release_src_spark.sources.io import scratch_path

    ev = Catalog(spark, sf_dir).events.select(
        "event_id", "ts", "user_id", "value"
    )
    src = scratch_path("upsert_stream_src", sf_dir)
    state = scratch_path("upsert_state", sf_dir)
    for p in (src, state):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(src)
    now = _time.time()
    cuts = ("2024-01-08", "2024-01-18")
    parts = (
        ("b1", ev.where(F.col("ts") < F.lit(cuts[0])), 90),
        (
            "b2",
            ev.where(
                (F.col("ts") >= F.lit(cuts[0]))
                & (F.col("ts") < F.lit(cuts[1]))
            ),
            60,
        ),
        ("b3", ev.where(F.col("ts") >= F.lit(cuts[1])), 30),
    )
    for tag, frame, age in parts:
        tmp = f"{src}/_{tag}_tmp"
        frame.coalesce(1).write.parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = f"{src}/{tag}.parquet"
        shutil.move(f"{tmp}/{part}", dst)
        shutil.rmtree(tmp)
        os.utime(dst, (now - age, now - age))

    def upsert(bdf: DataFrame, batch_id: int) -> None:
        # State accumulates total_value as exact integer CENTS (value
        # is 2dp by contract): batch partial sums b1+b2+b3 then add in
        # a different float order than the oracle's single sum(value),
        # the documented rounding-boundary parity trap — integer
        # accumulation is order-free; only the final projection
        # converts back to currency and rounds.
        inc = bdf.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "total_value"
            ),
            F.max("ts").alias("last_ts"),
        )
        if os.path.exists(state):
            cur = spark.read.parquet(state)
            merged = (
                cur.select(
                    "user_id",
                    F.col("n_events").alias("n0"),
                    F.col("total_value").alias("t0"),
                    F.col("last_ts").alias("l0"),
                )
                .join(inc, "user_id", "full_outer")
                .select(
                    "user_id",
                    (
                        F.coalesce("n0", F.lit(0))
                        + F.coalesce("n_events", F.lit(0))
                    ).alias("n_events"),
                    (
                        F.coalesce(F.col("t0"), F.lit(0).cast("long"))
                        + F.coalesce(
                            F.col("total_value"), F.lit(0).cast("long")
                        )
                    ).alias("total_value"),
                    F.greatest(
                        F.coalesce("l0", "last_ts"),
                        F.coalesce("last_ts", "l0"),
                    ).alias("last_ts"),
                )
            )
        else:
            merged = inc
        tmp_out = f"{state}__new"
        merged.write.mode("overwrite").parquet(tmp_out)
        old = f"{state}__old"
        if os.path.exists(state):
            os.rename(state, old)
        os.rename(tmp_out, state)
        shutil.rmtree(old, ignore_errors=True)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark.catalog.refreshByPath(state)
    back = spark.read.parquet(state)
    return back.select(
        "user_id",
        "n_events",
        F.round(F.col("total_value") / 100.0, 2).alias("total_value"),
        "last_ts",
    ).orderBy("user_id")


def trigger_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow: the one-shot incremental drain that
    replaced Trigger.Once — processes everything available at start in
    rate-limited micro-batches, then STOPS on its own (no
    processAllAvailable babysitting), keeping checkpoint semantics so
    tomorrow's run resumes where this one ended. The
    batch-equivalence contract is the same as any complete-mode agg
    over a finite source, which the oracle checks; awaitTermination
    returning (instead of hanging) IS the trigger's semantic."""
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    name = f"avail_now_{next(_COUNTER)}"
    # stateful complete-mode agg (state keyed by ≤5 event types): the
    # one drain point outside run_to_memory that still pays the
    # per-partition state-store constant — same scoped sizing
    # (measured on the 10×-sf0.1 replica: 1.7-2.1 s @ 32 → 1.1-1.4 s
    # @ 8, identical rows).
    with stateful_partitioning(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .trigger(availableNow=True)
            .format("memory")
            .queryName(name)
            .start()
        )
        finished = q.awaitTermination(120)
        q.stop()
    if not finished:
        # a timed-out drain would silently return a partial snapshot
        raise TimeoutError(
            "AvailableNow drain did not terminate within 120s"
        )
    return spark.table(name).orderBy("event_type")


def chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained time-window aggregation (Spark 3.4 multiple stateful
    operators): hourly tumbling counts re-windowed into daily
    rollups INSIDE one streaming query — window() accepts the
    upstream window struct as its time column, so the daily stage is
    a second stateful aggregation fed by finalized hourly windows.
    Append mode: a window emits once the watermark (max event time −
    1 h, advanced by the default no-data micro-batch) passes its end,
    so every day except the still-open last one materializes — the
    oracle encodes exactly that emit rule. At scale the hourly stage
    bounds state by HOURS×types and the daily stage by DAYS×types;
    raw events are never held in state."""
    ev = read_events_stream(spark, sf_dir)
    hourly = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.col("w1"), "1 day").alias("w2"), "event_type"
        )
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.max("c").cast("long").alias("max_hour"),
        )
    )
    name = run_to_memory(daily, "append", "stream_chain")
    return spark.table(name).select(
        F.col("w2.start").alias("day"),
        "event_type",
        "n_events",
        "n_hours",
        "max_hour",
    )

"""Tuned SparkSession factory.

Scale posture (see SURVEY.md §4): AQE on (runtime re-plan, skew-join
splitting, partition coalescing), UTC session timezone (oracle parity),
Arrow for any Python-edge exchange, shuffle partitions sized to the
machine (cluster deployments override via ``SPARK_GRAFT_SHUFFLE``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of MemAvailable, clamped to [4g, 24g] — enough heap
    that 32 concurrent local tasks don't GC-thrash, without requesting
    more than the host can grant (a fixed 24g fails JVM launch on
    small boxes; the grading driver builds its own session, so this
    only governs local runs)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gib = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(4, min(24, avail_gib // 2))}g"
    except OSError:
        pass
    return "8g"


def core_count() -> int:
    """Cores the engine sizes itself to: ``SPARK_GRAFT_CPUS`` when it is
    a number, else the host's."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(cpus) if cpus.isdigit() else (os.cpu_count() or 16)


def _default_shuffle_partitions() -> int:
    """Initial shuffle partitions sized to the ACTUAL core count
    (``SPARK_GRAFT_CPUS``, else the host's), floored at 16 — r16: the
    old fixed 32 was a local[32]-tuned constant; on a local[8] run it
    schedules 4 waves of tiny tasks per exchange (measured at sf0.1 /
    8 cores: noop headline total ~15% slower, the fixed-size
    calibration probe ~35% slower, than with 16). At 32 cores this
    still resolves to the old 32. This is only the INITIAL partition
    count — AQE coalescing (on) sizes post-shuffle partitions by bytes
    either way; a cluster deployment overrides via SPARK_GRAFT_SHUFFLE
    (sized to executors × cores, see SURVEY §4)."""
    return max(16, core_count())


def batch_shuffle_partitions() -> int:
    """Batch shuffle partitions: the ``SPARK_GRAFT_SHUFFLE`` override
    when set, else ``_default_shuffle_partitions()``."""
    env = os.environ.get("SPARK_GRAFT_SHUFFLE")
    return int(env) if env else _default_shuffle_partitions()


def get_spark(
    app_name: str = "hdsp-hive-release-src-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for OLAP workloads."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = batch_shuffle_partitions()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # dims at any realistic SF stay well under this; lineitem never does
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata parquet carries naive (isAdjustedToUTC=false) micros
        # timestamps; without this Spark 4 reads them as TIMESTAMP_NTZ,
        # which unix_micros/withWatermark/watermarked streaming reject.
        # Read as session-local TIMESTAMP instead — session tz is UTC,
        # so epoch values agree with DuckDB's naive-as-UTC semantics.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # local mode runs every executor thread inside the driver JVM —
        # size the heap for 32 concurrent tasks, not a lone driver
        # (8g showed 2× wall-clock swings from GC pauses on the
        # shuffle-heavy headliners). Sized from the HOST's available
        # memory, not a hardcoded 24g: on a smaller box a fixed 24g
        # would fail JVM launch outright.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        # local mode compiles every whole-stage-codegen (Janino) class
        # in the ONE driver JVM; a long session (bench + 10× stress,
        # full-registry sweeps) accumulates thousands of generated
        # classes against the JVM's default 240 MB segmented code
        # cache. When the 'profiled nmethods' segment fills, the
        # sweeper flushes hot compiled code and methods run
        # interpreted until re-promoted — measured on this box as
        # intermittent 10× CPU-bound slow shots (bench shot_diag r15:
        # a 21.4 s jaccard shot burned 555 CPU-seconds vs ~55 warm, at
        # full parallelism, flat GC, no JIT burst). 512m costs nothing
        # beside the multi-GB heaps this repo runs and removes the
        # ceiling.
        # Applies only when THIS call launches the JVM (first session
        # in the process — true for bench/sweeps/tests; a foreign
        # driver session keeps its own opts). r16 (r15 ADVICE): a
        # deployment's own driver JVM options (GC flags etc.) come
        # through SPARK_GRAFT_DRIVER_JAVA_OPTS and are PREPENDED, not
        # clobbered — mirroring driver.memory's env escape hatch.
        .config(
            "spark.driver.extraJavaOptions",
            (
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
                + " -XX:ReservedCodeCacheSize=512m"
            ).strip(),
        )
        # Spark caches compiled whole-stage-codegen classes in an LRU
        # of spark.sql.codegen.cache.maxEntries (default 100). One
        # olap_10x pass compiles ~135 distinct classes and one
        # dedup_10x pass ~270-300 (~430 for both), so a shuffled round
        # order evicts each class before its next use: every warm
        # round re-compiled 57-101 (olap) / 253-302 (dedup) classes,
        # each fresh bytecode HotSpot must interpret and JIT again
        # (10-13 s of JIT per warm olap round vs 4-6 s executor CPU).
        # 2048 holds 4x+ the measured working set; warm rounds then
        # compile 0 classes on olap_10x, and peak RSS did not rise in
        # the perfbench A/B. Static conf: like the code cache
        # above it applies only when THIS call launches the JVM — a
        # foreign driver session keeps Spark's 100, and
        # tune_for_oracle cannot change it.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def get_hive_spark(
    metastore_dir: str,
    app_name: str = "hdsp-hive-release-src-spark-hive",
    master: str = "local[4]",
) -> SparkSession:
    """SparkSession with HIVE catalog integration (the BASELINE.json
    north-star deployment shape: Spark SQL over a Hive metastore).

    The pyspark distribution bundles hive-metastore/hive-exec jars, so
    ``enableHiveSupport`` works out of the box; ``metastore_dir``
    hosts the embedded Derby metastore + warehouse for local runs — a
    cluster deployment points ``hive.metastore.uris`` at the shared
    metastore service instead and every ``saveAsTable`` / ``ANALYZE``
    / ``MSCK REPAIR`` / partition DDL in this repo runs unchanged
    against it (the catalog API surface is identical; only the
    catalog's durability changes). catalogImplementation is a STATIC
    conf — this must build the process's FIRST session; it cannot
    retrofit an in-memory-catalog session (tests exercise it in a
    subprocess for exactly that reason)."""
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", f"{metastore_dir}/warehouse")
        .config(
            "spark.hadoop.javax.jdo.option.ConnectionURL",
            f"jdbc:derby:;databaseName={metastore_dir}/metastore_db;"
            "create=true",
        )
        .config("spark.ui.enabled", "false")
        .enableHiveSupport()
        .getOrCreate()
    )


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Pin the confs value-comparison against DuckDB depends on, on a
    session we did not build (e.g. the driver's), plus runtime-settable
    perf confs: a foreign session defaults to 200 shuffle partitions,
    which is pure scheduling overhead at test scale."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(batch_shuffle_partitions())
    )
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # naive parquet timestamps must read as TIMESTAMP (UTC), not NTZ —
    # see get_spark; a foreign session defaults to NTZ inference and
    # breaks unix_micros()/withWatermark() on the events table.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark

"""Format round-trips and partitioned sinks.

Scratch outputs live under ``<repo>/_scratch`` (gitignored) — the
sandbox forbids writes outside the repo. Writes are mode=overwrite so
round-trip queries are idempotent across driver re-runs.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SCRATCH = Path(
    os.environ.get(
        "SPARK_GRAFT_SCRATCH",
        Path(__file__).resolve().parents[2] / "_scratch",
    )
)


def scratch_path(tag: str, sf_dir: str) -> str:
    sf = Path(sf_dir.rstrip("/")).name
    return str(SCRATCH / f"{tag}_{sf}")


def roundtrip_csv(df: DataFrame, tag: str, sf_dir: str) -> DataFrame:
    """parquet → csv (header) → read back with the SAME explicit schema
    (never inferSchema in a pipeline — schema drift at 100 TB must fail
    loudly, not silently re-type)."""
    path = scratch_path(tag, sf_dir)
    df.write.mode("overwrite").option("header", True).csv(path)
    spark = df.sparkSession
    return spark.read.schema(df.schema).option("header", True).csv(path)


def roundtrip_json(df: DataFrame, tag: str, sf_dir: str) -> DataFrame:
    path = scratch_path(tag, sf_dir)
    df.write.mode("overwrite").json(path)
    spark = df.sparkSession
    return spark.read.schema(df.schema).json(path)


def roundtrip_orc(df: DataFrame, tag: str, sf_dir: str) -> DataFrame:
    """parquet → ORC → read back. ORC is Hive's native columnar format
    (the reference engine's vectorized path) — Spark's built-in ORC
    source gives the same predicate-pushdown/column-pruning surface as
    parquet."""
    path = scratch_path(tag, sf_dir)
    df.write.mode("overwrite").orc(path)
    spark = df.sparkSession
    return spark.read.schema(df.schema).orc(path)


def write_partitioned(
    df: DataFrame, partition_col: str, tag: str, sf_dir: str
) -> str:
    """Hive-style partitioned parquet sink (dt=value directories) —
    the layout that makes partition pruning work on read."""
    path = scratch_path(tag, sf_dir)
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    return path


def try_ext_connector(spark: SparkSession, fmt: str):
    """Delta/Iceberg/Hudi/JDBC/Avro need jars not present in this
    image; surface a clear capability error instead of a classpath
    stack. Avro specifically: the core avro-*.jar libraries ship with
    pyspark but the spark-avro DATASOURCE module does not (it has been
    an external module since Spark 2.4) — probed at round 5;
    ``format("avro")`` raises 'Failed to find data source'. With the
    org.apache.spark:spark-avro package on the classpath the standard
    ``.write.format("avro")`` / ``.read.format("avro")`` round-trip
    works unchanged. Kafka likewise: the Structured Streaming source a
    production deployment reads (``readStream.format("kafka")``) lives
    in the external spark-sql-kafka-0-10 module — probed at round 6,
    not on this classpath; with the package added, the standard
    subscribe/startingOffsets options apply and every watermark/
    stateful operator in streaming/jobs.py composes unchanged (they
    are source-agnostic past the DataFrame boundary)."""
    known = {"delta", "iceberg", "hudi", "jdbc", "avro", "kafka"}
    if fmt in known:
        raise NotImplementedError(
            f"connector {fmt!r} requires external jars not bundled here; "
            f"add the package to spark.jars.packages and retry"
        )
    raise ValueError(f"unknown external format {fmt!r}")


def fresh_managed_table(spark: SparkSession, name: str) -> None:
    """DROP a managed table AND clear its warehouse directory — DROP
    alone can't clean a leftover location after a metastore reset, and
    a stale directory makes the next saveAsTable fail. One place for
    the warehouse-path derivation (file:-prefix stripping) instead of
    a copy per query."""
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)

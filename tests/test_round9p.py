"""Round-9 sixteenth-wave properties: custom-source partition contract
and losslessness, pandas UDAF exactness vs JVM aggregate."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_kvlog_source_reads_one_partition_per_file(spark):
    from hdsp_hive_release_src_spark.sources.python_datasources import (
        KVLogReader,
    )
    from hdsp_hive_release_src_spark.sources.io import scratch_path

    # run the query first so the export exists
    rows = registry.QUERIES["python_datasource_kvlog"](
        spark, SF
    ).collect()
    assert rows
    path = scratch_path("kvlog", SF)
    files = [f for f in os.listdir(path) if f.endswith(".txt")]
    assert len(files) == 4  # repartition(4) → 4 reader partitions
    parts = KVLogReader({"path": path}).partitions()
    assert len(parts) == len(files)
    # losslessness: totals equal the original parquet (already
    # oracle-gated; here we pin the row-level count too)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert sum(r.n for r in rows) == ev.count()
    total_cents = (
        ev.agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
        ).collect()[0].c
    )
    assert sum(r.cents for r in rows) == total_cents


def test_pandas_udaf_matches_jvm_sum_of_squares(spark):
    rows = registry.QUERIES["pandas_grouped_agg_udaf"](
        spark, SF
    ).collect()
    assert rows
    truth = {
        r.priority: r
        for r in spark.read.parquet(f"{SF}/orders.parquet")
        .where(F.col("o_orderkey") % 101 == 0)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.pow(F.round(F.col("o_totalprice") * 100), 2)
            )
            .cast("long")
            .alias("sumsq"),
        )
        .collect()
    }
    assert len(rows) == len(truth)
    for r in rows:
        assert r.n == truth[r.priority].n
        assert r.sumsq_cents2 == truth[r.priority].sumsq

"""§2.5 sources/sinks + §2.3 streaming: round-trip fidelity, partition
pruning, connector stubs."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent


def test_scratch_defaults_under_own_checkout():
    """With ``SPARK_GRAFT_SCRATCH`` unset, a fresh interpreter places
    scratch under the checkout it imports the package from, so two
    checkouts never write into one scratch directory."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SCRATCH"}
    out = subprocess.run(
        [sys.executable, "-c",
         "from hdsp_hive_release_src_spark.sources import io; "
         "print(io.SCRATCH)"],
        cwd=REPO, env=env, capture_output=True, text=True, check=True,
    )
    assert Path(out.stdout.strip()) == REPO / "_scratch"


def test_partitioned_sink_prunes_partitions(spark, sf_dir):
    from hdsp_hive_release_src_spark.catalog import Catalog
    from hdsp_hive_release_src_spark.plans import explain_str
    from hdsp_hive_release_src_spark.sources.io import write_partitioned

    li = Catalog(spark, sf_dir).lineitem
    path = write_partitioned(li, "l_returnflag", "prune_test", sf_dir)
    back = spark.read.parquet(path).where(F.col("l_returnflag") == "R")
    plan = explain_str(back)
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split(
        "PartitionFilters"
    )[1][:200], plan


def test_csv_roundtrip_row_fidelity(spark, sf_dir):
    from hdsp_hive_release_src_spark.catalog import Catalog
    from hdsp_hive_release_src_spark.sources.io import roundtrip_csv

    p = Catalog(spark, sf_dir).part
    back = roundtrip_csv(p, "csv_fidelity", sf_dir)
    assert back.schema == p.schema
    assert back.count() == p.count()
    assert back.exceptAll(p).count() == 0


def test_ext_connector_stub():
    from hdsp_hive_release_src_spark.sources.io import try_ext_connector

    with pytest.raises(NotImplementedError, match="delta"):
        try_ext_connector(None, "delta")
    with pytest.raises(NotImplementedError, match="avro"):
        try_ext_connector(None, "avro")
    with pytest.raises(NotImplementedError, match="kafka"):
        try_ext_connector(None, "kafka")
    with pytest.raises(ValueError):
        try_ext_connector(None, "avro-ish-nonsense")


def test_avro_datasource_really_absent(spark):
    """The avro capability error must reflect reality: if this test
    fails, the spark-avro jar has appeared in the image and
    avro_roundtrip should be promoted to a real query."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from hdsp_hive_release_src_spark.sources.io import SCRATCH

    with pytest.raises(AnalysisException, match="avro"):
        spark.range(1).write.mode("overwrite").format("avro").save(
            str(SCRATCH / "avro_probe")
        )


def test_transform_with_state_blocked_on_protobuf():
    """Promotion sentinel for Spark 4's arbitrary-stateful-processing
    v2 (transformWithStateInPandas / StatefulProcessor): its driver
    worker needs the `protobuf` python package (state protocol), which
    is not in this image — probed round 6, the streaming runner dies
    with ImportError from StateMessage_pb2. applyInPandasWithState
    (v1) covers the arbitrary-state surface today
    (streaming/jobs.py::stateful_running_agg). If this test fails,
    protobuf has appeared: add a transformWithState query with
    ValueState + timers beside the v1 operator."""
    import importlib.util

    try:
        spec = importlib.util.find_spec("google.protobuf")
    except ModuleNotFoundError:  # parent 'google' namespace missing
        spec = None
    assert spec is None, (
        "protobuf is now available - promote transformWithStateInPandas"
        " to a first-class streaming query"
    )


def test_kafka_source_really_absent(spark):
    """Same promotion sentinel for the Kafka streaming source: if this
    test fails, spark-sql-kafka-0-10 has appeared on the classpath and
    a kafka readStream round-trip should be promoted to a real query
    (the stateful operators in streaming/jobs.py are source-agnostic,
    so only the read boundary changes)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException, match="(?i)kafka"):
        (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", "localhost:9092")
            .option("subscribe", "probe")
            .load()
        )


def test_stream_windowed_counts_equals_batch(spark, sf_dir):
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    stream = registry.QUERIES["stream_windowed_counts"](spark, sf_dir)
    batch = registry.QUERIES["time_bucket_agg"](spark, sf_dir)
    assert sorted(map(tuple, stream.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_runs_are_isolated(spark, sf_dir):
    """Re-running a streaming query must not double-count via a stale
    memory sink (unique sink names per run)."""
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    n1 = registry.QUERIES["stream_dedup"](spark, sf_dir).collect()
    n2 = registry.QUERIES["stream_dedup"](spark, sf_dir).collect()
    assert n1 == n2


def test_stream_late_data_actually_drops_rows(spark, sf_dir):
    """The late-data query must not pass vacuously: the replay must
    run >= 3 micro-batches, and the late batch's rows must be counted
    as dropped-by-watermark (not silently aggregated)."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.streaming import jobs

    registry.load_all()
    registry.QUERIES["stream_late_data"](spark, sf_dir).collect()
    progress = jobs.LAST_PROGRESS
    assert len(progress) >= 3, [p.get("batchId") for p in progress]
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for s in p.get("stateOperators", [])
    )
    assert dropped > 0, progress

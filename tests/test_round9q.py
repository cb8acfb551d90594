"""Round-9 seventeenth-wave properties: streaming-source exactly-once
closed form, writer partition-file contract, double-run idempotence."""

from __future__ import annotations

import os

import pytest

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_python_stream_exactly_once_closed_form(spark):
    from hdsp_hive_release_src_spark.sources.python_datasources import (
        PYSTREAM_N,
    )

    rows = sorted(
        registry.QUERIES["python_datasource_stream"](
            spark, SF
        ).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(7))
    # exactly-once: totals are the closed-form range sums
    assert sum(r.n for r in rows) == PYSTREAM_N
    assert sum(r.sum_i for r in rows) == PYSTREAM_N * (PYSTREAM_N - 1) // 2
    assert sum(r.sum_sq for r in rows) == sum(
        i * i for i in range(PYSTREAM_N)
    )


def test_python_writer_one_file_per_partition_and_idempotent(spark):
    from hdsp_hive_release_src_spark.sources.io import scratch_path

    first = {
        r.cohort: (r.n, r.cents)
        for r in registry.QUERIES["python_datasource_writer"](
            spark, SF
        ).collect()
    }
    path = scratch_path("kvlogsink", SF)
    files = sorted(os.listdir(path))
    assert len(files) == 4  # repartition(4) -> one file per task
    assert all(f.startswith("part-") and f.endswith(".txt") for f in files)
    # re-running overwrites the same partition files — same answer
    second = {
        r.cohort: (r.n, r.cents)
        for r in registry.QUERIES["python_datasource_writer"](
            spark, SF
        ).collect()
    }
    assert first == second
    ev_n = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(n for n, _ in first.values()) == ev_n

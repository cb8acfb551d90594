"""Round-9 eighteenth-wave properties: 2PC sink file contract — only
committed files visible, no temp leakage after a clean run, batch
count matches the offset math."""

from __future__ import annotations

import math
import os

import pytest

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_two_phase_sink_commits_everything_exactly_once(spark):
    from hdsp_hive_release_src_spark.sources.python_datasources import (
        PYSTREAM_N,
        PYSTREAM_STEP,
    )
    from hdsp_hive_release_src_spark.sources.io import scratch_path

    rows = registry.QUERIES["python_datasource_stream_sink"](
        spark, SF
    ).collect()
    assert len(rows) == 9
    assert sum(r.n for r in rows) == PYSTREAM_N
    assert sum(r.sum_i for r in rows) == PYSTREAM_N * (PYSTREAM_N - 1) // 2

    path = scratch_path("twophasesink", SF)
    files = sorted(os.listdir(path))
    finals = [f for f in files if f.startswith("b") and f.endswith(".txt")]
    temps = [f for f in files if f.startswith(".tmp-")]
    assert not temps, temps  # clean run leaves no uncommitted attempt
    # data batches = ceil(N / step); a no-data flush batch may or may
    # not add empty committed files depending on engine behaviour —
    # require AT LEAST the data batches and no more than +2
    data_batches = math.ceil(PYSTREAM_N / PYSTREAM_STEP)
    batch_ids = {f.split("-")[0] for f in finals}
    assert data_batches <= len(batch_ids) <= data_batches + 2
    # every committed line count sums to N
    n_lines = 0
    for f in finals:
        with open(os.path.join(path, f), encoding="utf-8") as fh:
            n_lines += sum(1 for _ in fh)
    assert n_lines == PYSTREAM_N

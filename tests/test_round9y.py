"""Round-9 twenty-fifth-wave properties: WKB byte-identity round
trip, window_time inclusive-end identity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_st_wkb_roundtrip_is_byte_identical(spark):
    from hdsp_hive_release_src_spark.queries.builtin_functions.numeric import (
        WKB_POINTS,
    )

    row = registry.QUERIES["st_wkb_surface"](spark, SF).collect()[0]
    for i, w in enumerate(WKB_POINTS):
        assert row[f"geom_rt_{i}"] == w.lower()
        assert row[f"geog_rt_{i}"] == w.lower()
    assert row.default_srid == 0
    assert row.set_srid == 4326


def test_window_time_is_inclusive_end(spark):
    rows = registry.QUERIES["window_time_semantics"](
        spark, SF
    ).collect()
    assert rows
    total = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r.n for r in rows) == total
    import datetime as dt

    for r in rows:
        assert r.window_end - r.window_start == dt.timedelta(hours=1)
        assert r.window_end - r.event_time == dt.timedelta(
            microseconds=1
        )

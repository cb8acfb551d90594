"""Round-9 fourteenth-wave properties: transpose grid identity,
approx_top_k exactness vs groupBy, scripting loop execution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_transpose_grid_matches_pre_transpose_measures(spark):
    rows = registry.QUERIES["dataframe_transpose"](spark, SF).collect()
    assert [r.key for r in rows] == sorted(
        ["n_orders", "rev_cents", "n_custs"]
    )
    o = spark.read.parquet(f"{SF}/orders.parquet")
    m = {
        r.st: r
        for r in o.groupBy(F.col("o_orderstatus").alias("st"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
            F.countDistinct("o_custkey").cast("long").alias("n_custs"),
        )
        .collect()
    }
    for r in rows:
        for st in ("F", "O", "P"):
            assert r[st] == m[st][r.key], (r.key, st)


def test_approx_top_k_is_exact_at_low_cardinality(spark):
    rows = registry.QUERIES["approx_top_k_contract"](
        spark, SF
    ).collect()
    truth = sorted(
        (
            (r.cnt, r.event_type)
            for r in spark.read.parquet(f"{SF}/events.parquet")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .collect()
        ),
        key=lambda t: (-t[0], t[1]),
    )
    assert [(r.cnt, r.item) for r in rows] == truth


def test_scripting_loop_actually_ran(spark):
    from hdsp_hive_release_src_spark.queries.io_catalog.ddl import SCRIPT_LOOPS

    rows = registry.QUERIES["sql_scripting_block"](spark, SF).collect()
    assert rows
    assert {r.loop_acc for r in rows} == {3 ** SCRIPT_LOOPS}
    total = sum(r.share_permille for r in rows)
    # truncated permille shares of 5 priorities sum to just under 1000
    assert 995 <= total <= 1000

"""Round-9 nineteenth-wave properties: WITH TIES overshoot + plan
shape (no global rank window), path trigram structure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_with_ties_keeps_every_tying_row_and_no_global_window(spark):
    from hdsp_hive_release_src_spark.queries.relational.sql import TIES_K

    df = registry.QUERIES["fetch_with_ties_emulation"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the scalable form: TakeOrdered probe + broadcast filter, never
    # a rank() window over the whole table
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    rows = df.collect()
    assert len(rows) >= TIES_K  # ties overshoot
    cut = min(r.p_size for r in rows)
    # every part at or above the cut is present — none dropped
    n_at_or_above = (
        spark.read.parquet(f"{SF}/part.parquet")
        .where(F.col("p_size") >= cut)
        .count()
    )
    assert len(rows) == n_at_or_above
    # and the cut is exactly the k-th value in descending order
    sizes = sorted(
        (
            r.p_size
            for r in spark.read.parquet(f"{SF}/part.parquet")
            .select("p_size")
            .collect()
        ),
        reverse=True,
    )
    assert cut == sizes[TIES_K - 1]


def test_user_path_trigrams_structure(spark):
    rows = registry.QUERIES["user_path_trigrams"](spark, SF).collect()
    assert rows
    for r in rows:
        steps = r.path.split(">")
        assert len(steps) == 3
        assert r.n_users >= 1
    counts = [r.n_users for r in rows]
    assert counts == sorted(counts, reverse=True)
    # total path users cannot exceed the 3+-event user population
    ev = spark.read.parquet(f"{SF}/events.parquet")
    eligible = (
        ev.groupBy("user_id").count().where(F.col("count") >= 3).count()
    )
    assert sum(counts) <= eligible

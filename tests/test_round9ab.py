"""Round-9 twenty-eighth-wave properties: k-anonymity accounting,
attribution mass conservation between the two models."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_k_anonymity_accounting(spark):
    from hdsp_hive_release_src_spark.queries.governance import KANON_K

    rows = sorted(
        registry.QUERIES["k_anonymity_audit"](spark, SF).collect(),
        key=lambda r: r.size_bucket,
    )
    assert rows
    total_rows = sum(r.n_rows for r in rows)
    assert total_rows == spark.read.parquet(
        f"{SF}/customer.parquet"
    ).count()
    for r in rows:
        assert 1 <= r.size_bucket <= KANON_K
        if r.size_bucket < KANON_K:
            # every row in a below-k bucket is at risk
            assert r.rows_at_risk == r.n_rows
            assert r.n_rows == r.size_bucket * r.n_groups
        else:
            assert r.rows_at_risk == 0
        assert 0 <= r.homogeneous_groups <= r.n_groups
    # small-sf quasi-ids are mostly unique: bucket 1 must exist and
    # dominate (the audit is non-vacuous)
    assert rows[0].size_bucket == 1
    assert rows[0].rows_at_risk > 0


def test_touch_attribution_mass_conservation(spark):
    rows = registry.QUERIES["touch_attribution"](spark, SF).collect()
    assert rows
    total = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("event_type") == "purchase")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
        )
        .collect()[0]
        .c
    )
    # both models fully attribute the same purchase revenue
    assert sum(r.first_touch_cents for r in rows) == total
    assert sum(r.last_touch_cents for r in rows) == total
    # credit genuinely moves between models somewhere
    assert any(
        r.first_touch_cents != r.last_touch_cents for r in rows
    )

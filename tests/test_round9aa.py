"""Round-9 twenty-seventh-wave properties: IVM merge ≡ recompute with
a non-trivial split, erasure cascade conservation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_ivm_split_is_nontrivial_and_merge_exact(spark):
    from hdsp_hive_release_src_spark.queries.governance import IVM_CUTOFF

    o = spark.read.parquet(f"{SF}/orders.parquet")
    n_base = o.where(F.col("o_orderdate") < IVM_CUTOFF).count()
    n_delta = o.where(F.col("o_orderdate") >= IVM_CUTOFF).count()
    # both sides carry real rows — otherwise the merge is vacuous
    assert n_base > 0 and n_delta > 0
    rows = registry.QUERIES["ivm_delta_aggregate"](spark, SF).collect()
    assert sum(r.n_orders for r in rows) == n_base + n_delta
    truth = {
        r.p: (r.n, r.s)
        for r in o.groupBy(F.col("o_orderpriority").alias("p")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("s"),
        ).collect()
    }
    for r in rows:
        n, s = truth[r.priority]
        assert (r.n_orders, r.sum_cents) == (n, s)
        assert r.avg_cents == s // n


def test_erasure_cascade_conserves_rows(spark):
    from hdsp_hive_release_src_spark.queries.governance import ERASE_MOD

    rows = {
        r.tbl: r
        for r in registry.QUERIES["cascading_erasure_audit"](
            spark, SF
        ).collect()
    }
    assert set(rows) == {"customer", "orders", "lineitem"}
    for tbl in rows.values():
        assert tbl.rows_to_erase > 0  # the audit is non-vacuous
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    assert (
        rows["customer"].rows_to_erase + rows["customer"].rows_kept
        == cust.count()
    )
    assert (
        rows["orders"].rows_to_erase + rows["orders"].rows_kept
        == orders.count()
    )
    assert (
        rows["lineitem"].rows_to_erase + rows["lineitem"].rows_kept
        == li.count()
    )
    # direct replay of the subject predicate on orders
    n_hit_orders = orders.where(
        F.col("o_custkey") % ERASE_MOD == 0
    ).count()
    assert rows["orders"].rows_to_erase == n_hit_orders

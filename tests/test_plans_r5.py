"""Round-5 operator plan shapes: MV rewrite routing, broadcast model
tables, map-only gates, join-free pair generation (SURVEY.md §4)."""

from __future__ import annotations

import pytest

from hdsp_hive_release_src_spark import registry
from hdsp_hive_release_src_spark.plans import explain_str

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_mv_auto_rewrite_scans_mv_not_base(spark):
    """The automatic rewrite must actually reroute the scan: the
    answered plan reads the MV table and never touches lineitem."""
    df = registry.QUERIES["mv_auto_rewrite"](spark, SF)
    plan = explain_str(df, "simple")
    assert "mv_auto_monthly" in plan, plan
    assert "lineitem" not in plan, plan


def test_dsir_model_tables_are_broadcast(spark):
    """The 64-row bucket-ratio model must broadcast into the scoring
    join — the token stream is never shuffled on its own key."""
    df = registry.QUERIES["dsir_importance_weights"](spark, SF)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_quality_gates_are_join_free(spark):
    """repetition_score and gopher_quality_rules are single-scan map
    pipelines: no join anywhere; repetition additionally has no hash
    exchange (its only exchange is the presentation sort)."""
    for name in ("repetition_score", "gopher_quality_rules"):
        plan = explain_str(registry.QUERIES[name](spark, SF), "simple")
        assert "Join" not in plan, (name, plan)
    rep = explain_str(
        registry.QUERIES["repetition_score"](spark, SF), "simple"
    )
    assert "Exchange hashpartitioning" not in rep, rep


def test_containment_pair_generation_is_join_free(spark):
    """dedup_containment shares the jaccard pair core: no join, one
    scan of documents."""
    df = registry.QUERIES["dedup_containment"](spark, SF)
    plan = explain_str(df, "simple")
    assert "Join" not in plan, plan
    scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "documents" in ln
    ]
    assert len(scans) == 1, plan


def test_incremental_dedup_no_cartesian(spark):
    """Batch-vs-corpus digest probe must stay an equi join on the
    hash; the within-batch window must carry a partition spec."""
    df = registry.QUERIES["incremental_dedup"](spark, SF)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_zorder_layout_clusters_both_dimensions(spark):
    """Files sorted by the Morton key must carry tight per-file
    ranges in BOTH custkey and date, where a linear custkey sort
    leaves each file spanning (nearly) the whole date range — the
    actual file-skipping benefit the interleave exists for."""
    import shutil

    from pyspark.sql import functions as F

    o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    k = o.select(
        "o_custkey",
        "o_orderdate",
        F.expr("CAST(o_custkey & 65535 AS BIGINT)").alias("c"),
        F.expr(
            "CAST(datediff(o_orderdate, DATE '2023-01-01') & 65535"
            " AS BIGINT)"
        ).alias("d"),
    )
    from hdsp_hive_release_src_spark.queries.io_catalog.ddl import _morton_bits
    from hdsp_hive_release_src_spark.sources.io import SCRATCH

    z = k.withColumn("zval", F.expr(_morton_bits("c", "d")))

    def avg_spans(df, sort_col):
        path = str(SCRATCH / f"zorder_test_{sort_col}")
        shutil.rmtree(path, ignore_errors=True)
        (
            df.repartitionByRange(8, F.col(sort_col))
            .sortWithinPartitions(sort_col)
            .write.parquet(path)
        )
        spark.catalog.refreshByPath(path)
        back = spark.read.parquet(path)
        spans = back.groupBy(
            F.col("_metadata.file_path").alias("f")
        ).agg(
            (F.max("c") - F.min("c")).alias("cspan"),
            (F.max("d") - F.min("d")).alias("dspan"),
        )
        row = spans.agg(
            F.avg("cspan").alias("ac"), F.avg("dspan").alias("ad")
        ).collect()[0]
        return row.ac, row.ad

    zc, zd = avg_spans(z, "zval")
    lc, ld = avg_spans(z, "c")
    # linear custkey sort: tight custkey spans, full date spans.
    # zorder: BOTH spans well below the linear sort's date span.
    assert zd < ld * 0.7, (zd, ld)
    assert zc < lc * 20, (zc, lc)  # bounded trade on the lead dim


def test_dynamic_partition_pruning_fires(spark):
    """The fact scan must carry a dynamicpruning expression on the
    partition column — the runtime filter injected from the dim side
    (without it the partitioned fact is fully scanned)."""
    df = registry.QUERIES["dynamic_partition_pruning"](spark, SF)
    plan = explain_str(df, "formatted")
    assert "dynamicpruning" in plan.lower(), plan[:4000]

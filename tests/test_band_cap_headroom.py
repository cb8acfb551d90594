"""Observability for the MAX_BAND_BUCKET / SEMANTIC_MAX_CELL caps.

The caps silently DROP over-sized band buckets / blocking cells (by
design — see their comments for why that loses no wanted pairs on
healthy corpora). These tests turn "silently" into a measured
guarantee at test scale: if a corpus or hashing change ever pushes
real occupancy within 4× of a cap, the assertion fails and the cap /
config must be revisited explicitly instead of recall quietly
degrading."""

from __future__ import annotations

from pyspark.sql import functions as F


def _max_group(df, keys):
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )


def test_lsh_band_buckets_far_below_cap(spark, sf_dir):
    from hdsp_hive_release_src_spark.operators.jaccard import (
        MAX_BAND_BUCKET,
        parallel_docs,
    )
    from hdsp_hive_release_src_spark.queries.text.dedup import lsh_banded

    mx = _max_group(lsh_banded(parallel_docs(spark, sf_dir)),
                    ["band", "bh"])
    assert mx <= MAX_BAND_BUCKET // 4, (
        f"LSH band bucket occupancy {mx} is within 4x of the "
        f"{MAX_BAND_BUCKET} cap - pairs may silently drop soon"
    )


def test_simhash_band_buckets_far_below_cap(spark, sf_dir):
    from hdsp_hive_release_src_spark.operators.jaccard import (
        MAX_BAND_BUCKET,
        parallel_docs,
    )
    from hdsp_hive_release_src_spark.queries.text.dedup import simhash_banded

    mx = _max_group(simhash_banded(parallel_docs(spark, sf_dir)),
                    ["band", "bh"])
    assert mx <= MAX_BAND_BUCKET // 4, (
        f"SimHash band bucket occupancy {mx} is within 4x of the "
        f"{MAX_BAND_BUCKET} cap"
    )


def test_semantic_cells_far_below_cap(spark, sf_dir):
    """Re-derives the 2-probe cell assignment sizes (the pre-cap
    frame) and checks the largest cell against SEMANTIC_MAX_CELL."""
    from pyspark.sql import Window

    from hdsp_hive_release_src_spark.catalog import Catalog
    from hdsp_hive_release_src_spark.functions.vectors import (
        dot,
        l2_norm,
        to_double,
    )
    from hdsp_hive_release_src_spark.queries.vectors import SEMANTIC_MAX_CELL

    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    # r6: blocking runs on exact-dedup representatives (min vec_id
    # per distinct vector) — mirror that here
    n = (
        e.groupBy("v")
        .agg(F.min("vec_id").alias("vec_id"))
        .select("vec_id", "v", l2_norm(F.col("v")).alias("nrm"))
    )
    cent = n.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    sim = F.round(
        dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cid")
    assigned = (
        n.join(F.broadcast(cent))
        .select("vec_id", "cid", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
    )
    mx = _max_group(assigned, ["cid"])
    assert mx <= SEMANTIC_MAX_CELL // 4, (
        f"largest semantic cell {mx} is within 4x of the "
        f"{SEMANTIC_MAX_CELL} cap"
    )

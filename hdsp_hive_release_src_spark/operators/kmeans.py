"""Distributed Lloyd k-means over an array<double> column.

The canonical iterative-algorithm shape on Spark: per iteration the
corpus is scanned ONCE, and assignment is a pure map-side expression —
the k current centroids are embedded as literals, so finding the
nearest centroid is an array_min over k (distance, cid) structs with
NO join and NO shuffle. The only shuffle per iteration is the centroid
update, a per-(cluster, dim) average whose map-side partial
aggregation collapses each partition to at most k×dim rows before the
exchange. Only the k×dim codebook ever reaches the driver (legitimate
at any corpus scale; k is small by construction).

No rand(): seeding takes the k rows with the smallest
md5(cast(id as string)) — a pseudo-random but deterministic spread that
both reruns and the DuckDB oracle reproduce exactly, and a fixed k
rows to the driver regardless of corpus size (a modulo sample would
collect corpus/k rows — a driver OOM at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.functions.vectors import dot


def _nearest_cid(vec_col: str, centroids: list[tuple[int, list[float]]]) -> Column:
    """Map-only argmin: |v|² - 2v·c + |c|² ranks identically to true
    distance for a FIXED v, so rank on -2v·c + |c|² with the |c|² term
    precomputed driver-side. Ties break to the lowest cid via struct
    ordering inside array_min."""
    structs = []
    for cid, c in centroids:
        c_arr = F.array(*[F.lit(float(x)) for x in c])
        d = -2 * dot(F.col(vec_col), c_arr) + F.lit(
            float(sum(x * x for x in c))
        )
        structs.append(F.struct(d.alias("d"), F.lit(cid).alias("cid")))
    # shape validated empirically: an unrolled element_at(v,i)*c_i
    # arithmetic variant (k×dim flat terms, "better codegen" in
    # theory) measured 3.4× SLOWER than this zip_with/aggregate fold
    # at sf0.1 — the giant expression tree costs more than the
    # higher-order evaluation saves
    return F.array_min(F.array(*structs))["cid"]


def kmeans(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    k: int = 20,
    iterations: int = 3,
) -> DataFrame:
    """Return (id_col, cluster) assignments after ``iterations`` Lloyd
    rounds, seeded with the ``k`` rows whose md5-hashed id sorts first
    (cid = rank in that hash order).

    The assignments are returned lazily over the corpus input cache,
    which lives to the query boundary (operators/materialize.py): the
    seed collect, the centroid collects and the consumer's action all
    read it — one executed corpus scan."""
    # r13 subtree-audit fix: the seed collect, each iteration's
    # centroid-update collect and the final assignment each re-ran the
    # input lineage from parquet (4 executed corpus scans measured for
    # 3 iterations). The vector table is corpus-sized, so DISK_ONLY
    # persist per the materialize.py discipline — the standard
    # iterative-ML input cache; lineage is retained for executor loss.
    from hdsp_hive_release_src_spark.operators.materialize import (
        persist_fact_rows,
    )

    n = persist_fact_rows(
        vectors.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
        )
    )
    seed_rows = (
        n.orderBy(F.md5(F.col("vid").cast("string")), "vid")
        .limit(k)
        .collect()
    )
    centroids = [(i, list(row.v)) for i, row in enumerate(seed_rows)]
    assign = None
    for it in range(iterations):
        assign = n.withColumn("cid", _nearest_cid("v", centroids))
        if it == iterations - 1:
            break  # the final codebook update would never be read
        new_cent = (
            assign.select(
                "cid", F.posexplode("v").alias("dim", "val")
            )
            .groupBy("cid", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("pairs")
            )
            .select(
                "cid",
                F.expr("transform(pairs, p -> p.m)").alias("c"),
            )
            .collect()
        )
        centroids = [(r.cid, list(r.c)) for r in new_cent]
    return assign.select(
        F.col("vid").alias(id_col), F.col("cid").alias("cluster")
    )

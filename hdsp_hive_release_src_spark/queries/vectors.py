"""Vectors domain: embeddings and nearest-neighbour search.

Exact and approximate (LSH, IVF, product quantization) top-k search,
recall audits, k-means and centroids, semantic dedup, quantization,
PCA, and great-circle nearest-hub geometry.

Float determinism: vector math casts float32 to double before
multiplying and folds sums sequentially (functions/vectors.py); every
emitted float is rounded, and thresholds sit in measured gaps of the
data's similarity distribution.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.functions.vectors import (
    dot,
    l2_norm,
    to_double,
)
from hdsp_hive_release_src_spark.registry import query


# ----------------------------------------------------- similarity search

_DUCK_COSINE = """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e)
"""


@query(
    "embedding_cosine_pairs",
    oracle=f"""
    WITH {_DUCK_COSINE}
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           round(list_sum(list_transform(range(1, 65),
                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_sum(list_transform(range(1, 65),
          i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.45
    ORDER BY v1, v2
    """,
)
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine ≥ 0.45 near-dup pairs — intentionally the
    exact O(n²) baseline (oracle-matched).

    Why no LSH here: at τ=0.45 random-hyperplane banding cannot prune.
    A near-threshold pair collides per 4-plane band with
    (1 - acos(0.45)/π)^4 ≈ 0.18, so ~48 bands are needed for 1e-4
    recall loss — but at 48 bands an UNRELATED pair (cos≈0, per-band
    0.5^4) still collides with 1-(1-0.0625)^48 ≈ 0.95, i.e. nearly
    every pair becomes a candidate and the "pruned" join degenerates
    to the cross join plus banding overhead. Hyperplane LSH only pays
    above τ≈0.7. The production scale path at this τ is
    `semantic_dedup` (below — SemDeDup cluster blocking, multi-probe
    IVF cells); this query is the exhaustive test-scale twin that
    verifies it and measures its recall gap."""
    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    n = e.select("vec_id", "v", l2_norm(F.col("v")).alias("nrm"))
    a, b = n.alias("a"), n.alias("b")
    # norms come from the per-ROW projection — the per-pair work is one
    # dot-product fold, not dot + two norm folds (3× per-pair cost on
    # the O(n²) hot loop; same sequential fold order, so the rounded
    # value and oracle parity are unchanged)
    cos = F.round(
        dot(F.col("a.v"), F.col("b.v"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= 0.45)
        .orderBy("v1", "v2")
    )


ANN_BRUTEFORCE_ORACLE = f"""
    WITH {_DUCK_COSINE},
    q AS (SELECT * FROM n WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM q JOIN n c ON q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, cos,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= 10
    ORDER BY query_id, rank
"""


@query("ann_bruteforce_topk", oracle=ANN_BRUTEFORCE_ORACLE)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors (vec_id < 5):
    broadcast the queries, scan the corpus once, per-query top-K via
    window on the rounded score (ties broken by id — deterministic
    across engines)."""
    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    n = e.select("vec_id", "v", l2_norm(F.col("v")).alias("nrm"))
    q = n.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        n.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                (
                    F.aggregate(
                        F.zip_with(
                            F.col("qv"), F.col("v"), lambda x, y: x * y
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
                / (F.col("qn") * F.col("nrm")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


def _hyperplanes(n_planes: int = 4, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5 —
    reproducible across sessions without RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()
            row.append(int(h[:8], 16) / float(0xFFFFFFFF) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _lsh_oracle_sql() -> str:
    """The LSH planes are md5-derived constants — inline them as SQL
    literals so DuckDB reproduces the exact bucket assignment (full
    oracle, not rows-only)."""
    planes = _hyperplanes()
    dots = [
        f"""(CASE WHEN list_sum(list_transform(range(1, 65),
             i -> v[i] * ([{", ".join(repr(c) for c in plane)}])[i])) > 0
             THEN {1 << p} ELSE 0 END)"""
        for p, plane in enumerate(planes)
    ]
    bucket = " + ".join(dots)
    return f"""
    WITH {_DUCK_COSINE},
    b AS (SELECT vec_id, v, nrm, {bucket} AS bucket FROM n),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qb
          FROM b WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, b.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> q.qv[i] * b.v[i])) / (q.qn * b.nrm), 6) AS cos
      FROM q JOIN b ON b.bucket = q.qb AND b.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= 10
    ORDER BY query_id, rank
    """


ANN_LSH_ORACLE = _lsh_oracle_sql()


@query("ann_lsh_topk", oracle=ANN_LSH_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: 4 sign bits → 16 buckets (sized so a
    500-vector corpus still yields ~30 bucket-mates per query); top-10
    per query within its bucket only. The 100 TB path: candidate set
    per query is |bucket|, not |corpus|; recall and bucket fan-out tune
    with plane count / multi-probe."""
    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    n = e.select("vec_id", "v", l2_norm(F.col("v")).alias("nrm"))
    planes = _hyperplanes()
    bucket = sum(
        [
            F.when(
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        F.array(*[F.lit(c) for c in plane]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                F.lit(1 << p),
            ).otherwise(0)
            for p, plane in enumerate(planes)
        ]
    )
    nb = n.withColumn("bucket", bucket.cast("long"))
    q = nb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        nb.join(
            F.broadcast(q),
            (F.col("qbucket") == F.col("bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("qn") * F.col("nrm")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


@query(
    "embedding_centroids",
    oracle="""
    SELECT label, dim, round(avg(val), 6) AS centroid_val,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM (
      SELECT label,
             unnest(list_transform(embedding,
                    (x, i) -> {'dim': i - 1, 'val': CAST(x AS DOUBLE)}),
                    recursive := true)
      FROM embeddings)
    WHERE dim < 8
    GROUP BY label, dim ORDER BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (first 8 dims shown): posexplode
    to (label, dim, val) rows then a mergeable avg — the relational
    formulation of element-wise vector mean (no array re-assembly, so
    partial aggregation stays map-side combinable at any scale)."""
    e = Catalog(spark, sf_dir).embeddings
    return (
        e.select(
            "label", F.posexplode(to_double("embedding")).alias("dim", "val")
        )
        .where(F.col("dim") < 8)
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg("val"), 6).alias("centroid_val"),
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


_DUCK_IVF = """
    n AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
             WHERE vec_id % 25 = 0),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT n.vec_id, cent.cid,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                   round(list_sum(list_transform(range(1, 65),
                         i -> n.v[i] * cent.cv[i])) / (n.nrm * cent.cn), 6)
                   DESC, cent.cid) AS rn
        FROM n CROSS JOIN cent)
      WHERE rn = 1),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT n.vec_id AS query_id, cent.cid,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                   round(list_sum(list_transform(range(1, 65),
                         i -> n.v[i] * cent.cv[i])) / (n.nrm * cent.cn), 6)
                   DESC, cent.cid) AS rn
        FROM n CROSS JOIN cent WHERE n.vec_id < 5)
      WHERE rn <= 3)
"""


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_DUCK_IVF},
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM probes p
      JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.query_id
      JOIN n q ON q.vec_id = p.query_id
      JOIN n c ON c.vec_id = a.vec_id)
    SELECT query_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= 10
    ORDER BY query_id, rank
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a deterministic coarse codebook (every 25th
    vector — rand()-free so the oracle reproduces it), vectors assigned
    to their nearest centroid, queries probe their 3 nearest cells and
    scan only those cells' members. The 100 TB shape: corpus scanned
    once for assignment (broadcast codebook), per-query work is
    nprobe/ncells of the corpus; here ~12% vs the brute-force 100%."""
    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    n = e.select("vec_id", "v", l2_norm(F.col("v")).alias("nrm"))
    cent = n.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    sim_to_cent = F.round(
        dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), "cid"
    )
    assigned = (
        n.join(F.broadcast(cent))
        .select("vec_id", "v", "nrm", "cid", sim_to_cent.alias("sim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "v", "nrm", "cid")
    )
    probes = (
        n.where(F.col("vec_id") < 5)
        .join(F.broadcast(cent))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            "cid",
            sim_to_cent.alias("sim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim"), "cid")
            ),
        )
        .where(F.col("rn") <= 3)
        .select("query_id", "qv", "qn", F.col("cid").alias("pcid"))
    )
    scored = (
        assigned.join(
            F.broadcast(probes),
            (F.col("cid") == F.col("pcid"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("v"))
                / (F.col("qn") * F.col("nrm")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


def _kmeans_oracle_sql(k: int = 20, iterations: int = 3, dim: int = 64) -> str:
    """Unrolled Lloyd k-means as DuckDB CTEs: md5-ranked seeding, then
    per iteration a CROSS JOIN against the ≤k centroids with a
    row_number argmin (ties -> lowest cid, matching the Spark struct
    ordering) and a per-(cid, dim) average rebuild. Exact replay of the
    operator; centroid averages differ only in double summation order,
    which cannot flip an argmin on the well-separated corpus."""

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> {a}[i] * {b}[i]))"
        )

    ctes = [
        """emb AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings)""",
        f"""cent0 AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
             v
      FROM (SELECT * FROM emb
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}))""",
    ]
    for t in range(iterations):
        ctes.append(
            f"""d{t} AS (
      SELECT e.vec_id, e.v, s.cid,
             -2 * {dot('e.v', 's.v')}
               + list_sum(list_transform(s.v, x -> x * x)) AS d
      FROM emb e CROSS JOIN cent{t} s)"""
        )
        ctes.append(
            f"""a{t} AS (
      SELECT vec_id, v, cid FROM (
        SELECT vec_id, v, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cid) AS rn
        FROM d{t}) WHERE rn = 1)"""
        )
        if t < iterations - 1:
            ctes.append(
                f"""m{t} AS (
      SELECT cid, i, avg(v[i]) AS m
      FROM a{t}, range(1, {dim + 1}) r{t}(i) GROUP BY cid, i)"""
            )
            ctes.append(
                f"""cent{t + 1} AS (
      SELECT cid, list(m ORDER BY i) AS v FROM m{t} GROUP BY cid)"""
            )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_members
    FROM a{iterations - 1} GROUP BY cid ORDER BY cluster"""
    )


@query("kmeans_clusters", oracle=_kmeans_oracle_sql())
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (3 iterations, deterministic k=20
    md5-ranked seeding) over the embeddings — the iterative-algorithm
    class (driver sees only the k×64 codebook per round; corpus scanned
    once per iteration; assignment is a map-only literal-codebook
    expression, so the only per-round shuffle is the k×dim partial-agg
    centroid update). The oracle replays all 3 Lloyd rounds as unrolled
    DuckDB CTEs; tests additionally verify against an independent numpy
    implementation at sf0.001."""
    from hdsp_hive_release_src_spark.functions.vectors import to_double
    from hdsp_hive_release_src_spark.operators.kmeans import kmeans

    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    return (
        kmeans(e, id_col="vec_id", vec_col="v")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster")
    )


@query(
    "embedding_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 500),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e)
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           round(sqrt(list_sum(list_transform(v,
                 x -> pow(x - round(x / scale) * scale, 2)))
                 / len(v)), 6) AS rmse,
           CAST(len(v) AS INTEGER) AS n_dims
    FROM s ORDER BY vec_id
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (scale = max|x| / 127,
    q = round(x / scale)) with per-vector reconstruction RMSE — the
    4× storage cut every vector store applies before ANN serving.
    Entirely JVM-side higher-order functions (transform / aggregate
    lambdas); map-only, no Python, no shuffle. The RMSE oracle proves
    the quantize→dequantize round trip bit-agrees with DuckDB's."""
    e = Catalog(spark, sf_dir).embeddings.where(F.col("vec_id") < 500)
    v = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    with_scale = e.select(
        "vec_id",
        v.alias("v"),
    ).select(
        "vec_id",
        "v",
        (F.array_max(F.expr("transform(v, x -> abs(x))")) / 127.0).alias(
            "scale"
        ),
    )
    sq_err_sum = F.expr(
        "aggregate(v, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + pow(x - round(x / scale) * scale, 2))"
    )
    return with_scale.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.round(F.sqrt(sq_err_sum / F.size("v")), 6).alias("rmse"),
        F.size("v").alias("n_dims"),
    ).orderBy("vec_id")


# Max members per blocking cell before the cell is dropped from the
# pair join (pair work per cell is size², so one degenerate cluster —
# all-zero vectors, a constant-embedding bug upstream — could
# otherwise dominate the whole stage). 20× the by-construction
# expected cell size of 50; replayed verbatim in the DuckDB oracle.
SEMANTIC_MAX_CELL = 1000


# IVF-style deterministic blocking, multi-probe, EXACT-DEDUP-FIRST
# (r6): identical embeddings collapse to one representative (min
# vec_id) BEFORE the codebook / assignment / pair join, and pairs are
# expanded back through group membership afterwards. On a corpus with
# no verbatim copies this is bit-identical to blocking the raw
# vectors (reps == vectors); on a clone-heavy corpus it removes the
# (clones per cell)² blow-up, making pair-join cost a function of
# DISTINCT density and the emitted output — run like a real pipeline:
# exact dedup first, semantic blocking second, one operator. DuckDB
# replays the identical grouping + assignment, so parity is full.
# The cell cap is interpolated from SEMANTIC_MAX_CELL so both engines
# share one definition (a drifted hardcode would break parity
# silently instead of failing at the definition site).
_DUCK_BLOCKED = f"""
    raw AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    grp AS (SELECT v, min(vec_id) AS rep FROM raw GROUP BY v),
    members AS (SELECT g.rep, raw.vec_id FROM raw JOIN grp g
                ON raw.v = g.v),
    n AS (
      SELECT rep AS vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM grp),
    cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
             WHERE vec_id % 25 = 0),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT n.vec_id, cent.cid,
               row_number() OVER (PARTITION BY n.vec_id ORDER BY
                   round(list_sum(list_transform(range(1, 65),
                         i -> n.v[i] * cent.cv[i])) / (n.nrm * cent.cn), 6)
                   DESC, cent.cid) AS rn
        FROM n CROSS JOIN cent)
      WHERE rn <= 2),
    m0 AS (
      SELECT a.cid, a.vec_id, n.v, n.nrm
      FROM assigned a JOIN n ON n.vec_id = a.vec_id),
    m AS (
      SELECT cid, vec_id, v, nrm FROM (
        SELECT *, count(*) OVER (PARTITION BY cid) AS csz FROM m0)
      WHERE csz <= {SEMANTIC_MAX_CELL})
"""


@query(
    "semantic_dedup",
    oracle=f"""
    WITH {_DUCK_BLOCKED},
    rp AS (
      SELECT DISTINCT a.vec_id AS r1, b.vec_id AS r2,
             round(list_sum(list_transform(range(1, 65),
                   i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cos
      FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_sum(list_transform(range(1, 65),
            i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.45),
    cross_pairs AS (
      SELECT least(m1.vec_id, m2.vec_id) AS v1,
             greatest(m1.vec_id, m2.vec_id) AS v2, rp.cos
      FROM rp JOIN members m1 ON m1.rep = rp.r1
              JOIN members m2 ON m2.rep = rp.r2),
    intra_pairs AS (
      SELECT m1.vec_id AS v1, m2.vec_id AS v2,
             round(list_sum(list_transform(n.v, x -> x * x))
                   / (n.nrm * n.nrm), 6) AS cos
      FROM n JOIN members m1 ON m1.rep = n.vec_id
             JOIN members m2 ON m2.rep = n.vec_id
                            AND m1.vec_id < m2.vec_id)
    SELECT v1, v2, cos FROM cross_pairs
    UNION ALL
    SELECT v1, v2, cos FROM intra_pairs
    ORDER BY v1, v2
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-blocked semantic near-dup pairs (cos ≥ 0.45), SemDeDup
    shape with 2-probe assignment: each vector joins its TWO nearest
    cells of the deterministic IVF codebook (multi-probe recovers
    boundary-straddling pairs single-cell blocking misses — measured
    11/14 of the exact pairs at sf0.01 vs 0/14 single-probe on this
    near-threshold corpus); exact cosine then runs ONLY within cells —
    a cid-keyed shuffle join whose per-cell pair count is (cell
    size)², never the corpus². At 100 TB: one corpus scan for
    assignment (codebook broadcast, per-vector argmax, no corpus
    shuffle), one shuffle on cid, pair work Σ cell² with E[cell] =
    2n/ncells — raise ncells to hold cell size constant as the corpus
    grows. Recall trade (inherent to blocking): pairs sharing NO cell
    are missed; the oracle replays the identical blocking, so parity
    checks the operator's own contract, while `embedding_cosine_pairs`
    remains the exhaustive test-scale twin that measures the recall
    gap.

    Exact-dedup-first (r6): identical embeddings collapse to a
    min-vec_id representative before anything else — the codebook,
    assignment, cap, and pair join all run on DISTINCT vectors, and
    pairs expand back through the membership table at the end (clone
    pairs are trivially semantic dups; a clone-heavy corpus made the
    raw-vector pair join (clones/cell)²-bound, 70 s at the 10× clone
    stress vs output-proportional after this change). On a corpus
    with no verbatim copies the result is bit-identical to blocking
    raw vectors. This is exactly the production ordering: exact dedup
    → semantic dedup, fused into one operator.

    The assignment is MATERIALIZED before the pair join — Catalyst
    plans a self-join's two sides as two full subtrees (no exchange
    reuse across the alias), which would run the
    scan+broadcast+argmax pipeline twice; materializing the (cid,
    vec_id, v, nrm) table once and joining the table against itself
    is exactly what a production pipeline does (the assignment table
    is also the artifact later stages — cluster stats, re-probing —
    read).

    r17 (guide §5/§6, r16 verdict item 3): the materializations are
    ``localCheckpoint`` (reduced tiers: grp and assigned are
    Aggregate-rooted distinct-vector tables) and a DISK_ONLY persist
    (members — fact-row count, one row per corpus vector), all
    released at the query boundary, replacing three scratch
    PARQUET write+read roundtrips per call. The parquet scaffolding
    cost 3 write jobs + 3 read-back scans of real file I/O on every
    invocation — a fixed per-job cost locally, real distributed-FS
    traffic at scale; checkpoints keep the same single-build
    lifecycle (and the same 2 executed corpus scans, pinned in
    tests/test_scan_counts.py) with block reads instead of files.
    Measured at the 10× replica (count-timed, clearCache between
    shots, fresh process per variant, 3 interleaved rounds of
    best-of-4): old bests 3.263/3.314/2.901 s → new bests
    2.200/2.464/2.480 s (~25%), identical 93,800 rows every shot."""
    from hdsp_hive_release_src_spark.operators.materialize import (
        checkpoint_reduced,
        persist_fact_rows,
    )

    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    # exact-dedup first: identical vectors collapse to one
    # representative (min vec_id); blocking and the pair join run on
    # DISTINCT vectors only, pairs expand back through membership at
    # the end. Grouping is on the raw double array — exact binary
    # equality, no string formatting to diverge between engines.
    # r13 runtime-scan fix: grp feeds FOUR downstream subtrees
    # (members, n, cent, assigned) and Catalyst replans each from the
    # corpus scan (4 executed embeddings scans measured); building the
    # distinct-vector table once drops that to 2 — the grp build and
    # the members raw-id join, the two reads that genuinely need the
    # corpus. The group table is also the exact-dedup artifact a
    # production pipeline keeps.
    grp = checkpoint_reduced(
        e.groupBy("v").agg(F.min("vec_id").alias("rep"))
    )
    members = persist_fact_rows(
        e.join(grp, "v").select("rep", "vec_id")
    )
    n = grp.select(
        F.col("rep").alias("vec_id"),
        "v",
        l2_norm(F.col("v")).alias("nrm"),
    )
    cent = n.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    sim_to_cent = F.round(
        dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cid")
    assigned = checkpoint_reduced(
        n.join(F.broadcast(cent))
        .select("vec_id", "v", "nrm", "cid", sim_to_cent.alias("sim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") <= 2)
        .select("cid", "vec_id", "v", "nrm")
    )
    # Cell-size cap (same design as the dedup band/df caps): a
    # spillable no-orderBy Window count drops any pathological cell
    # whose (size)² pair work would go quadratic — a degenerate
    # embedding cluster (e.g. a sea of zero vectors) cannot take the
    # join down with it. E[cell] = 50 by construction (2 probes,
    # every-25th codebook) at ANY corpus size, so the 1000 cap is 20×
    # headroom that never fires on healthy data (asserted in tests);
    # the oracle replays the identical cap, so parity checks the
    # documented recall contract, not luck.
    # r13 subtree-sweep fix: the cap was a cid-partitioned window that
    # both pair-join sides re-executed (two shuffles of the assigned
    # table). The keep-list is cell-dimension-sized: aggregate it
    # once, checkpoint, and broadcast-semi-join — both sides are now
    # map-side over the materialized assignment table.
    keep_cells = (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("_csz"))
        .where(F.col("_csz") <= SEMANTIC_MAX_CELL)
        .select("cid")
        .localCheckpoint()
    )
    # r16 (guide §2.5, measured): the pair join's input is tiny in
    # BYTES (the assignment table) but quadratic in WORK (Σ cell²
    # candidate pairs, each a 64-dim cosine), so AQE's byte-based
    # partition coalescing (minPartitionSize=1m) merges the cid
    # exchange down to 1-2 tasks and the candidate stage runs nearly
    # serial (shot_diag: cpu_over_wall ~6 vs 16-23 on healthy
    # queries). An explicit cid-hash repartition sized to the core
    # count pins the quadratic stage's parallelism — rep_pairs noop
    # best-of-3 at the 10× replica: 1.76 s → 0.81 s. Scale-adaptive
    # by construction (defaultParallelism, not a constant); at real
    # scale per-cid groups stay ≤ SEMANTIC_MAX_CELL rows while cell
    # count grows, so a cid-hash spread over 2× cores stays balanced.
    cells = (
        assigned.join(F.broadcast(keep_cells), "cid", "leftsemi")
        .repartition(
            spark.sparkContext.defaultParallelism * 2, "cid"
        )
    )
    a = cells.alias("a")
    b = cells.alias("b")
    cos = F.round(
        dot(F.col("a.v"), F.col("b.v"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    rep_pairs = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("r1"),
            F.col("b.vec_id").alias("r2"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= 0.45)
        .distinct()
    )
    # expand representative pairs back to member pairs (the exact-dup
    # groups collapsed above): cross pairs through the two membership
    # joins, intra-group pairs (identical vectors — cosine computed
    # the same way, numerically 1.0) from the group self-join. Output
    # size is the true pair count — the operator's cost is now
    # distinct-density pair work + O(output) expansion.
    m1 = members.select(
        F.col("rep").alias("r1"), F.col("vec_id").alias("mv1")
    )
    m2 = members.select(
        F.col("rep").alias("r2"), F.col("vec_id").alias("mv2")
    )
    cross_pairs = (
        rep_pairs.join(m1, "r1")
        .join(m2, "r2")
        .select(
            F.least("mv1", "mv2").alias("v1"),
            F.greatest("mv1", "mv2").alias("v2"),
            "cos",
        )
    )
    self_cos = F.round(
        dot(F.col("v"), F.col("v")) / (F.col("nrm") * F.col("nrm")), 6
    )
    intra_pairs = (
        n.select(F.col("vec_id").alias("rep"), self_cos.alias("cos"))
        .join(
            members.select("rep", F.col("vec_id").alias("mv1")), "rep"
        )
        .join(
            members.select("rep", F.col("vec_id").alias("mv2")), "rep"
        )
        .where(F.col("mv1") < F.col("mv2"))
        .select(
            F.col("mv1").alias("v1"), F.col("mv2").alias("v2"), "cos"
        )
    )
    return cross_pairs.unionAll(intra_pairs).orderBy("v1", "v2")


_PQ_M = 8       # subspaces
_PQ_DSUB = 8    # dims per subspace (8 x 8 = 64)
_PQ_K = 16      # centroids per subspace
_PQ_NQ = 3      # query vectors (vec_id < 3)


def _pq_oracle() -> str:
    """Unrolled PQ replay: md5-ranked 16-seed codebook per subspace,
    per-(vector, subspace) argmin codes (distances rounded to 9
    before the tie-break so ulp noise can't flip a code), ADC
    distance = sum over subspaces of query-to-assigned-centroid d²."""
    return f"""
    WITH emb AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS k,
             v
      FROM (SELECT * FROM emb
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {_PQ_K})),
    sub AS (
      SELECT e.vec_id, m.m, s.k,
             round(list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
               i -> (e.v[m.m * {_PQ_DSUB} + i]
                     - s.v[m.m * {_PQ_DSUB} + i])
                  * (e.v[m.m * {_PQ_DSUB} + i]
                     - s.v[m.m * {_PQ_DSUB} + i]))), 9) AS d2
      FROM emb e CROSS JOIN range(0, {_PQ_M}) m(m) CROSS JOIN seeds s),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, k) AS rn
        FROM sub) WHERE rn = 1),
    qd AS (
      SELECT vec_id AS query_id, m, k, d2 FROM sub
      WHERE vec_id < {_PQ_NQ}),
    adist AS (
      SELECT qd.query_id, c.vec_id AS neighbor_id,
             round(sum(qd.d2), 6) AS approx_d2
      FROM codes c
      JOIN qd ON qd.m = c.m AND qd.k = c.code
      WHERE c.vec_id <> qd.query_id
      GROUP BY qd.query_id, c.vec_id)
    SELECT query_id, neighbor_id, approx_d2,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY approx_d2, neighbor_id) AS rnk FROM adist)
    WHERE rnk <= 5
    ORDER BY query_id, rank
    """


@query("ann_product_quantization", oracle=_pq_oracle())
def ann_product_quantization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): each 64-dim
    vector compresses to 8 one-byte codes (one 16-way argmin per
    8-dim subspace against a deterministic md5-ranked codebook), and
    query-to-vector distance is approximated ADC-style — the query's
    precomputed distance to each subspace centroid, summed over the
    vector's codes. This is the memory-side ANN scale lever the
    IVF/LSH queries don't cover: the corpus shrinks 64 doubles → 8
    bytes (64×), so a 100 TB embedding store scans as ~1.5 TB of
    codes with NO per-pair float math (8 table lookups per
    candidate). Encoding is map-only (literal codebook, like the
    kmeans assignment); the 3 queries' 8×16 distance tables are
    driver-computed literals (the classic ADC lookup table). Code
    distances are rounded to 9 before the argmin tie-break in BOTH
    engines so an ulp cannot flip a code. In production the codes
    table is materialized once (as semantic_dedup materializes its
    cells) and re-encoded only on codebook refresh."""
    import hashlib as _hl

    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    seed_rows = (
        e.orderBy(
            F.md5(F.col("vec_id").cast("string")), "vec_id"
        )
        .limit(_PQ_K)
        .collect()
    )
    cents = [list(r.v) for r in seed_rows]  # 16 × 64

    def sub_d2_expr(m: int, k: int):
        cslice = F.array(
            *[
                F.lit(float(cents[k][m * _PQ_DSUB + i]))
                for i in range(_PQ_DSUB)
            ]
        )
        vslice = F.slice("v", m * _PQ_DSUB + 1, _PQ_DSUB)
        return F.round(
            F.aggregate(
                F.zip_with(vslice, cslice, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        )

    code_cols = [
        F.array_min(
            F.array(
                *[
                    F.struct(
                        sub_d2_expr(m, k).alias("d"),
                        F.lit(k).alias("k"),
                    )
                    for k in range(_PQ_K)
                ]
            )
        )["k"].alias(f"c{m}")
        for m in range(_PQ_M)
    ]
    codes = e.select("vec_id", *code_cols)

    qrows = {
        r.vec_id: list(r.v)
        for r in e.where(F.col("vec_id") < _PQ_NQ).collect()
    }

    def py_d2(q: list, m: int, k: int) -> float:
        s = 0.0
        for i in range(_PQ_DSUB):
            dlt = q[m * _PQ_DSUB + i] - cents[k][m * _PQ_DSUB + i]
            s += dlt * dlt
        return round(s, 9)

    # r13 runtime-scan fix: a union of per-query branches made
    # Catalyst re-run the encode scan once per query (3 executed
    # embeddings scans in the scoring job alone; 5 total with the two
    # setup collects). All queries' ADC sums are literal lookup
    # tables over the SAME code columns, so one pass computes every
    # (query, neighbor) distance: build a struct per query, explode —
    # the scoring job now scans the corpus exactly once however many
    # queries ride it.
    per_query = []
    for qid, qv in sorted(qrows.items()):
        dist = None
        for m in range(_PQ_M):
            tab = F.array(
                *[F.lit(py_d2(qv, m, k)) for k in range(_PQ_K)]
            )
            term = F.element_at(tab, F.col(f"c{m}") + 1)
            dist = term if dist is None else dist + term
        per_query.append(
            F.struct(
                F.lit(qid).alias("query_id"),
                F.round(dist, 6).alias("approx_d2"),
            )
        )
    scored = (
        codes.select(
            "vec_id", F.explode(F.array(*per_query)).alias("q")
        )
        .where(F.col("vec_id") != F.col("q.query_id"))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("q.approx_d2").alias("approx_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        "approx_d2", "neighbor_id"
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("long")
        )
        .where(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


@query(
    "embedding_norm_outliers",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings),
    st AS (SELECT avg(nrm) AS mu, stddev_samp(nrm) AS sd FROM n)
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           round(max(st.mu), 6) AS mean_norm,
           round(max(st.sd), 6) AS std_norm,
           CAST(sum(CASE WHEN abs(n.nrm - st.mu) > 3 * st.sd
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(sum(CASE WHEN n.nrm < 1e-6 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_zero
    FROM n CROSS JOIN st
    """,
)
def embedding_norm_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-health audit: the L2-norm distribution's 3σ outliers
    and near-zero vectors — the two signatures of a broken embedding
    job (truncated inference → zeros; fp overflow / unnormalized
    mixes → huge norms). Cosine-based downstream ops silently degrade
    on both, so this gate runs before any ANN/dedup stage. One scan
    computes norms; the 1-row (μ, σ) aggregate broadcasts back for
    the outlier count — two passes, no shuffle of the vectors
    themselves."""
    e = Catalog(spark, sf_dir).embeddings
    from hdsp_hive_release_src_spark.functions.vectors import (
        l2_norm,
        to_double,
    )

    n = e.select(
        "vec_id", l2_norm(to_double("embedding")).alias("nrm")
    )
    st = n.agg(
        F.avg("nrm").alias("mu"), F.stddev_samp("nrm").alias("sd")
    )
    return (
        n.join(F.broadcast(st))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.max("mu"), 6).alias("mean_norm"),
            F.round(F.max("sd"), 6).alias("std_norm"),
            F.sum(
                (F.abs(F.col("nrm") - F.col("mu")) > 3 * F.col("sd"))
                .cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
            F.sum((F.col("nrm") < 1e-6).cast("int"))
            .cast("long")
            .alias("n_zero"),
        )
    )


_ANN_RECALL_ORACLE = f"""
    WITH bf AS (SELECT * FROM ({ANN_BRUTEFORCE_ORACLE.strip()}) b),
    l AS (SELECT * FROM ({ANN_LSH_ORACLE.strip()}) x)
    SELECT bf.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(l.neighbor_id) * 1000 // count(*) AS BIGINT)
               AS recall_permille
    FROM bf LEFT JOIN l
      ON l.query_id = bf.query_id
     AND l.neighbor_id = bf.neighbor_id
    GROUP BY bf.query_id ORDER BY bf.query_id
"""


@query("ann_recall_audit", oracle=_ANN_RECALL_ORACLE)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH scale path against the exact brute-force
    twin — THE metric that justifies replacing an O(corpus) scan per
    query with an O(bucket) one, computed as a first-class query so
    a recall regression (plane change, bucket skew) is a red gate
    row, not a silent quality loss. Composes the two registered ANN
    queries; the oracle composes their registered oracles verbatim,
    so all three stay in lockstep by construction. Join is on the
    top-k result sets: k·|queries| rows, broadcast-size at any
    corpus scale."""

    bf = ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    lsh = ann_lsh_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("lsh_neighbor")
    )
    return (
        bf.join(
            lsh,
            (bf.query_id == lsh.query_id)
            & (F.col("neighbor_id") == F.col("lsh_neighbor")),
            "left",
        )
        .drop(lsh.query_id)
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("lsh_neighbor").cast("long").alias("n_hits"),
            F.expr("count(lsh_neighbor) * 1000 div count(*)")
            .cast("long")
            .alias("recall_permille"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------
# source-centroid cosine matrix
# --------------------------------------------------------------------

_CC_Q = 1000000

_CC_ORACLE = f"""
WITH comp AS (
  SELECT d.source, g.i - 1 AS j,
         CAST(round(CAST(e.embedding[g.i] AS DOUBLE) * {_CC_Q}) AS BIGINT) AS v
  FROM embeddings e
  JOIN documents d ON e.vec_id = d.doc_id,
       unnest(generate_series(1, len(e.embedding))) AS g(i)),
cent AS (
  SELECT source, j, CAST(sum(v) AS BIGINT) AS sv
  FROM comp GROUP BY source, j),
pairs AS (
  SELECT a.source AS s1, b.source AS s2,
         sum(CAST(a.sv AS HUGEINT) * b.sv) AS dot,
         sum(CAST(a.sv AS HUGEINT) * a.sv) AS n1,
         sum(CAST(b.sv AS HUGEINT) * b.sv) AS n2
  FROM cent a JOIN cent b ON a.j = b.j AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT s1, s2,
       round(CAST(dot AS DOUBLE)
             / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
           AS cosine
FROM pairs ORDER BY s1, s2
"""


@query("source_centroid_cosine", oracle=_CC_ORACLE)
def source_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-source embedding
    centroids — the corpus-similarity matrix a mixture designer reads
    before setting sampling weights. Cosine is scale-invariant, so
    the INTEGER COMPONENT SUMS stand in for the mean vectors (counts
    cancel) and every accumulator is exact (DECIMAL(38,0)/HUGEINT
    for the quadratic sums); each pair's cosine is one closed-form
    double over identical exact integers. Scale shape: one pass to
    source×64 centroid cells, then a sources²×64 join — both bounded
    by the SOURCE count, not the corpus."""
    cat = Catalog(spark, sf_dir)
    e = cat.embeddings
    d = cat.documents.select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    comp = (
        e.join(d, "vec_id")
        .select("source", F.posexplode("embedding").alias("j", "x"))
        .select(
            "source",
            "j",
            F.expr(f"CAST(round(CAST(x AS DOUBLE) * {_CC_Q}) AS BIGINT)").alias("v"),
        )
    )
    # r13 subtree-sweep fix: both sides of the centroid self-join
    # re-ran the corpus pass (embeddings join + posexplode + agg).
    # The centroid table is sources x 64 cells — checkpoint it once.
    cent = (
        comp.groupBy("source", "j")
        .agg(F.sum("v").cast("long").alias("sv"))
        .localCheckpoint()
    )
    a = cent.alias("a")
    # the checkpoint RDD has no stats, so Catalyst would SMJ the tiny
    # self-join — broadcast one side explicitly (sources x 64 rows)
    b = F.broadcast(cent.alias("b"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pairs = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"),
            F.col("b.source").alias("s2"),
        )
        .agg(
            F.sum(dec("a.sv") * dec("b.sv")).alias("dot"),
            F.sum(dec("a.sv") * dec("a.sv")).alias("n1"),
            F.sum(dec("b.sv") * dec("b.sv")).alias("n2"),
        )
    )
    return pairs.select(
        "s1",
        "s2",
        F.round(
            F.expr(
                "CAST(dot AS DOUBLE)"
                " / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
            ),
            6,
        ).alias("cosine"),
    ).orderBy("s1", "s2")


# --------------------------------------------------------------------
# exact power-iteration PCA direction
# --------------------------------------------------------------------

#: embedding components quantized to 1e-6 (exact int64 on both
#: engines; round(x*1e6) can only land on .5 via float rounding, and
#: both engines round positive/negative halves away from zero)
_PCA_Q = 1000000

_PCA_ORACLE = f"""
WITH comp AS (
  SELECT e.vec_id AS id, g.i - 1 AS j,
         CAST(round(CAST(e.embedding[g.i] AS DOUBLE) * {_PCA_Q}) AS BIGINT) AS v
  FROM embeddings e,
       unnest(generate_series(1, len(e.embedding))) AS g(i)),
cov AS (
  SELECT a.j AS j, b.j AS k,
         sum(CAST(a.v AS HUGEINT) * b.v) AS c
  FROM comp a JOIN comp b ON a.id = b.id
  GROUP BY a.j, b.j),
v1 AS (
  SELECT j, sum(c) AS w FROM cov GROUP BY j),
v2 AS (
  SELECT cov.j, sum(cov.c * v1.w) AS w2
  FROM cov JOIN v1 ON cov.k = v1.j
  GROUP BY cov.j),
mx AS (SELECT max(abs(w2)) AS m FROM v2)
SELECT CAST(j AS BIGINT) AS dim,
       CAST(w2 * 1000 // mx.m AS BIGINT) AS loading_permille
FROM v2, mx ORDER BY dim
"""


@query("pca_power_iteration_exact", oracle=_PCA_ORACLE)
def pca_power_iteration_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-eigenvector direction of the embedding second-moment
    matrix by TWO power-iteration rounds (v0 = 1; v2 = C·(C·1)),
    carried out entirely in exact integer arithmetic: components
    quantized to 1e-6 → int64, the 64×64 moment matrix and both
    mat-vecs accumulate in DECIMAL(38,0)/HUGEINT (v2 entries reach
    ~1e33 — still inside 38 digits), and the output is each
    dimension's loading in permille of the largest. Iterative linear
    algebra is normally the first place cross-engine float drift
    appears; here every intermediate is bit-exact, so DuckDB replays
    the iteration cell-for-cell. Scale shape: the covariance build is
    one self-join on the row id grouped by (j,k) — map-side combined,
    4096 cells of state — and each iteration is a broadcast-sized
    64-row mat-vec, independent of corpus size."""
    e = Catalog(spark, sf_dir).embeddings
    # r12 scan-count fix: the self-join's two sides plus each
    # iteration's reuse of cov re-executed the explode scan (8 fact
    # scans measured). Checkpoint the quantized component table once
    # (both join sides read it) and the 4096-cell moment matrix (both
    # mat-vec rounds read it).
    comp = (
        e.select(
            F.col("vec_id").alias("id"),
            F.posexplode("embedding").alias("j", "x"),
        )
        .select(
            "id",
            "j",
            F.expr(
                f"CAST(round(CAST(x AS DOUBLE) * {_PCA_Q}) AS BIGINT)"
            ).alias("v"),
        )
        .localCheckpoint()
    )
    a = comp.alias("a")
    b = comp.alias("b")
    cov = (
        a.join(b, F.col("a.id") == F.col("b.id"))
        .groupBy(F.col("a.j").alias("j"), F.col("b.j").alias("k"))
        .agg(
            F.sum(
                F.col("a.v").cast("decimal(38,0)") * F.col("b.v")
            ).alias("c")
        )
        .localCheckpoint()
    )
    v1 = cov.groupBy("j").agg(F.sum("c").alias("w")).select(
        F.col("j").alias("k"), "w"
    )
    # r13 subtree-sweep fix: the max probe and the output both re-ran
    # the second mat-vec off the cov checkpoint. 64 rows — checkpoint.
    v2 = (
        cov.join(F.broadcast(v1), "k")
        .groupBy("j")
        .agg(F.sum(F.col("c") * F.col("w")).alias("w2"))
        .localCheckpoint()
    )
    mx = v2.agg(F.max(F.abs(F.col("w2"))).alias("m"))
    return (
        v2.crossJoin(F.broadcast(mx))
        .select(
            F.col("j").cast("long").alias("dim"),
            F.expr("CAST(w2 * 1000 div m AS BIGINT)").alias(
                "loading_permille"
            ),
        )
        .orderBy("dim")
    )


_RING_KM = "2000.0"


#: earth radius (km) and ring width (km), shared with the oracle.
_EARTH_R = "6371.0"


# deterministic synthetic coordinates from the customer key: spread
# over (-60..60) lat, (-180..180) lon — identical text in both engines
_LAT = "(CAST(c_custkey % 120 AS DOUBLE) - 60.0 + 0.25)"
_LON = "(CAST((c_custkey * 7) % 360 AS DOUBLE) - 180.0 + 0.25)"


#: haversine great-circle distance (km) from (lat, lon) to (0, 0),
#: written once and interpolated into BOTH engines' SQL so the
#: expression trees are identical.
_DIST = (
    f"2.0 * {_EARTH_R} * asin(sqrt("
    f"pow(sin(radians({_LAT}) / 2.0), 2) + "
    f"cos(radians({_LAT})) * cos(radians(0.0)) * "
    f"pow(sin(radians({_LON}) / 2.0), 2)))"
)


@query(
    "geo_haversine_rings",
    oracle=f"""
    WITH d AS (
      SELECT c_custkey, c_mktsegment, {_DIST} AS dist_km
      FROM customer)
    SELECT CAST(floor(dist_km / {_RING_KM}) AS BIGINT) AS ring,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
           round(min(dist_km), 3) AS ring_min_km,
           round(max(dist_km), 3) AS ring_max_km
    FROM d GROUP BY ring ORDER BY ring
    """,
)
def geo_haversine_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle distance rings: haversine distance from every
    customer's (synthesized) coordinates to a reference point, bucketed
    into {RING}km rings — the geo-cohorting shape (delivery zones,
    latency rings, catchment areas). The haversine expression is ONE
    shared string interpolated into both engines, so parity verifies
    the trig pipeline itself. Ring assignment is floor division of a
    per-row scalar; the aggregation carries integer counts and min/max
    of the per-row value — nothing order-sensitive. At scale: map-side
    expression + one integer-keyed shuffle."""
    c = Catalog(spark, sf_dir).customer
    dist = F.expr(_DIST)
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            dist.alias("dist_km"),
        )
        .groupBy(
            F.floor(F.col("dist_km") / float(_RING_KM))
            .cast("long")
            .alias("ring")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.count_distinct("c_mktsegment")
            .cast("long")
            .alias("n_segments"),
            F.round(F.min("dist_km"), 3).alias("ring_min_km"),
            F.round(F.max("dist_km"), 3).alias("ring_max_km"),
        )
        .orderBy("ring")
    )


#: fixed hub locations (name, lat, lon) — broadcast-joined dimension.
_HUBS = (
    ("hub_eu", 50.0, 10.0),
    ("hub_us", 40.0, -100.0),
    ("hub_apac", 10.0, 110.0),
    ("hub_sa", -20.0, -60.0),
)


def _hub_dist(lat2: float, lon2: float) -> str:
    return (
        f"2.0 * {_EARTH_R} * asin(sqrt("
        f"pow(sin((radians({_LAT}) - radians({lat2})) / 2.0), 2) + "
        f"cos(radians({_LAT})) * cos(radians({lat2})) * "
        f"pow(sin((radians({_LON}) - radians({lon2})) / 2.0), 2)))"
    )


def _nearest_hub_oracle() -> str:
    hub_rows = " UNION ALL ".join(
        f"SELECT c_custkey, '{n}' AS hub, {_hub_dist(la, lo)} AS dk"
        " FROM customer"
        for n, la, lo in _HUBS
    )
    return f"""
    WITH hd AS ({hub_rows}),
    best AS (
      SELECT c_custkey, hub, dk,
             row_number() OVER (PARTITION BY c_custkey
                 ORDER BY round(dk, 6), hub) AS rn
      FROM hd)
    SELECT hub,
           CAST(count(*) AS BIGINT) AS n_assigned,
           round(min(dk), 3) AS nearest_km,
           round(max(dk), 3) AS farthest_km
    FROM best WHERE rn = 1 GROUP BY hub ORDER BY hub
    """


@query("nearest_hub_assignment", oracle=_nearest_hub_oracle())
def nearest_hub_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub assignment (the geo version of IVF cell
    assignment): each customer is assigned to the closest of a fixed
    hub dimension by great-circle distance, with the per-hub
    population and distance envelope reported. The hub table is a
    literal broadcast — the assignment is a map-side argmin over 4
    candidate expressions (no shuffle until the final hub rollup),
    exactly how a 100 TB geo-partition step runs. Ties break on the
    6dp-rounded distance then hub name, mirrored in the oracle's
    window ordering."""
    c = Catalog(spark, sf_dir).customer
    hub_structs = F.array(
        *[
            F.struct(
                F.round(F.expr(_hub_dist(la, lo)), 6).alias("dk_r"),
                F.lit(n).alias("hub"),
                F.expr(_hub_dist(la, lo)).alias("dk"),
            )
            for n, la, lo in _HUBS
        ]
    )
    best = c.select(
        "c_custkey",
        F.array_min(hub_structs).alias("b"),
    ).select(
        "c_custkey",
        F.col("b.hub").alias("hub"),
        F.col("b.dk").alias("dk"),
    )
    return (
        best.groupBy("hub")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.round(F.min("dk"), 3).alias("nearest_km"),
            F.round(F.max("dk"), 3).alias("farthest_km"),
        )
        .orderBy("hub")
    )

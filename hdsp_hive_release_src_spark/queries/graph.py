"""Graph domain: PageRank, BFS, triangles, HITS, k-cores, link
prediction, bipartite projection and topological layering over the
TPC-H supply graph."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.registry import query


_DAMP = 0.85
_ROUNDS = 3


# shared edge definition: undirected trade edges cust<->supp realized
# as two directed edges, from orders x lineitem (custkey < 60 bounds
# the subgraph at test scale; at 100 TB the same query runs unbounded)
_DUCK_EDGES = """
    pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey < 60),
    edges AS (
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
      UNION ALL
      SELECT 's' || s AS src, 'c' || c AS dst FROM pairs),
    outd AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS n FROM edges)
"""


def _duck_round(k: int) -> str:
    return f"""
    r{k} AS (
      SELECT e.dst AS n,
             {1 - _DAMP} + {_DAMP} * sum(r{k - 1}.rank / outd.d) AS rank
      FROM edges e
      JOIN r{k - 1} ON e.src = r{k - 1}.n
      JOIN outd ON e.src = outd.src
      GROUP BY e.dst)
    """


_PAGERANK_ORACLE = (
    "WITH "
    + _DUCK_EDGES
    + ", r0 AS (SELECT n, 1.0 AS rank FROM nodes), "
    + ", ".join(_duck_round(k).strip() for k in range(1, _ROUNDS + 1))
    + f"""
    SELECT n AS node, round(rank, 6) AS rank
    FROM r{_ROUNDS} ORDER BY node
    """
)


@query("pagerank_trade_graph", oracle=_PAGERANK_ORACLE)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 rounds) over the undirected
    customer↔supplier trade graph. Each round is ONE edge-join + ONE
    destination aggregation — the canonical bulk-synchronous dataflow
    loop: no driver-side state, rank updates shuffle on the
    destination key, out-degrees computed once and reused every round
    (at cluster scale: broadcast if the node set is small, co-partition
    with edges if not). The oracle replays all three rounds as
    unrolled DuckDB CTEs, so every intermediate matters, not just the
    fixpoint shape. Undirected-as-two-directed edges keep every node's
    out-degree positive (no dangling-mass redistribution term)."""
    cat = Catalog(spark, sf_dir)
    # r12 scan-count fix: every iteration (and the out-degree and
    # rank-init branches) re-executed the orders x lineitem join from
    # parquet — 14 fact scans measured at runtime with zero exchange
    # reuse. The distinct pair list is eagerly localCheckpoint-ed
    # (the components.py discipline): one fact scan total, all loop
    # bodies re-derive edges from the edge-sized checkpoint.
    pairs = (
        cat.orders.where(F.col("o_custkey") < 60)
        .join(
            cat.lineitem,
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cn"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("sn"),
        )
        .distinct()
        .localCheckpoint()
    )
    edges = pairs.select(
        F.col("cn").alias("src"), F.col("sn").alias("dst")
    ).unionByName(
        pairs.select(F.col("sn").alias("src"), F.col("cn").alias("dst"))
    )
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # contribution edges (src, dst, 1/outdeg) stay fixed all rounds.
    # r13 subtree-sweep fix: every round consumed `contrib` lazily, so
    # the degree join re-executed per round (3x in the final plan);
    # one edge-sized checkpoint computes it once — which is what
    # "computed once and reused every round" must mean physically.
    # r17 audit (r16 verdict item 4, guide §2.4): the per-round plan
    # re-exchanges + re-sorts this checkpoint on src in EVERY round
    # (3 src-exchanges, zero ReusedExchange — a LogicalRDD leaf drops
    # outputPartitioning, verified on this build). The co-partitioned
    # alternative — repartition(src) + sortWithinPartitions + eager
    # PERSIST, whose InMemoryTableScan keeps partitioning/ordering
    # and lets all three rounds ride one exchange (or broadcast the
    # statically-sized cache) — was implemented and measured: plans
    # confirmed the exchanges/sorts gone
    # (plans/r17/pagerank_trade_graph_after.txt), but 8 interleaved
    # fresh-process A/B rounds at the 10× replica read FLAT to ~5%
    # WORSE (old bests mean 1.51 s vs 1.61 s): the query is
    # scan-bound (the pairs build alone is 0.98 s of ~1.5 s) and the
    # graph tiny (2,381 pairs), so the per-round exchange savings are
    # smaller than the added broadcast builds + eager-materialization
    # job. Kept in the r16 checkpoint shape as the measured best at
    # this scale; the persist form is the documented re-plan for the
    # large-edge-list regime where the rounds dominate the scan.
    contrib = (
        edges.join(outd, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("d")).alias("w"))
        .localCheckpoint()
    )
    ranks = edges.select(F.col("src").alias("n")).distinct().select(
        "n", F.lit(1.0).alias("rank")
    )
    for _ in range(_ROUNDS):
        ranks = (
            contrib.join(ranks, contrib.src == ranks.n)
            .groupBy("dst")
            .agg(
                (
                    F.lit(1 - _DAMP)
                    + F.lit(_DAMP) * F.sum(F.col("rank") * F.col("w"))
                ).alias("rank")
            )
            .select(F.col("dst").alias("n"), "rank")
        )
    return ranks.select(
        F.col("n").alias("node"), F.round("rank", 6).alias("rank")
    ).orderBy("node")


_BFS_ROUNDS = 4


def _bfs_oracle() -> str:
    ctes = [
        _DUCK_EDGES.strip(),
        "src AS (SELECT 'c' || min(c) AS s FROM pairs)",
        """d0 AS (
      SELECT n, CASE WHEN n = (SELECT s FROM src) THEN 0 END AS d
      FROM nodes)""",
    ]
    for k in range(1, _BFS_ROUNDS + 1):
        ctes.append(f"""d{k} AS (
      SELECT n, min(d) AS d FROM (
        SELECT n, d FROM d{k - 1}
        UNION ALL
        SELECT e.dst AS n, p.d + 1 AS d
        FROM edges e JOIN d{k - 1} p ON e.src = p.n
        WHERE p.d IS NOT NULL)
      GROUP BY n)""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT n AS node, CAST(d AS BIGINT) AS dist
    FROM d{_BFS_ROUNDS} WHERE d IS NOT NULL ORDER BY node"""
    )


@query("shortest_path_bfs", oracle=_bfs_oracle())
def shortest_path_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted shortest-path BFS over the trade graph from the
    lowest-keyed customer node — the fourth member of the iterative
    triad (pagerank, k-means, star components): each of the 4 fixed
    rounds is one frontier join + one min-aggregation, all relational
    (no driver-side frontier set — the frontier IS a DataFrame, so it
    scales with the cluster, not the driver). Distances alternate
    customer/supplier layers in this bipartite graph; unreached nodes
    after 4 hops are excluded by both engines. The oracle unrolls the
    identical rounds as CTEs."""
    cat = Catalog(spark, sf_dir)
    # r12 scan-count fix: each BFS round's frontier join re-executed
    # the fact join (78 scans measured); one eager checkpoint of the
    # pair list makes the whole walk one fact scan.
    pairs = (
        cat.orders.where(F.col("o_custkey") < 60)
        .join(
            cat.lineitem,
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .localCheckpoint()
    )
    fwd = pairs.select(
        F.concat(F.lit("c"), "c").alias("src"),
        F.concat(F.lit("s"), "s").alias("dst"),
    )
    edges = fwd.unionByName(
        pairs.select(
            F.concat(F.lit("s"), "s").alias("src"),
            F.concat(F.lit("c"), "c").alias("dst"),
        )
    )
    nodes = edges.select(F.col("src").alias("n")).distinct()
    src = pairs.agg(
        F.concat(F.lit("c"), F.min("c")).alias("s")
    )
    dist = nodes.join(F.broadcast(src)).select(
        "n", F.when(F.col("n") == F.col("s"), 0).alias("d")
    )
    # r13 subtree-sweep fix: `dist` is consumed TWICE per round (the
    # frontier join and the min-union), so a lazy loop DOUBLES the plan
    # each round — the round-1 subtree appeared 2^(rounds-1) = 8x in
    # the final physical plan (invisible to the parquet scan audit:
    # the repeats hang off the pairs checkpoint). One node-sized
    # localCheckpoint per round keeps every round's work executed once.
    dist = dist.localCheckpoint()
    for _ in range(_BFS_ROUNDS):
        frontier = (
            edges.join(
                dist.where(F.col("d").isNotNull()),
                edges.src == F.col("n"),
            )
            .select(F.col("dst").alias("n"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.select("n", "d")
            .unionByName(frontier)
            .groupBy("n")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return (
        dist.where(F.col("d").isNotNull())
        .select(F.col("n").alias("node"), F.col("d").cast("long").alias("dist"))
        .orderBy("node")
    )


# --- round-7: triangle counting + clustering coefficient -------------

#: co-purchase projection bounds: customers considered, minimum shared
#: customers for a supplier-supplier edge. Chosen so the projection is
#: genuinely sparse at gate scale (~763 edges / 4205 triangles at
#: sf0.01) instead of the near-complete graph a raw projection gives.
_TRI_CUST_BOUND = 10
_TRI_MIN_SHARED = 3

_TRI_ORACLE = f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey < {_TRI_CUST_BOUND}),
    proj AS (
      SELECT a.s AS s1, b.s AS s2
      FROM pairs a JOIN pairs b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_SHARED}),
    tri AS (
      SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      FROM proj e1 JOIN proj e2 ON e1.s2 = e2.s1
      JOIN proj e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
    tn AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri),
    tcount AS (SELECT node, count(*) AS n_triangles
               FROM tn GROUP BY node),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT s1 AS node FROM proj
        UNION ALL SELECT s2 FROM proj) GROUP BY node)
    SELECT deg.node, CAST(deg.degree AS BIGINT) AS degree,
           CAST(COALESCE(tcount.n_triangles, 0) AS BIGINT)
               AS n_triangles,
           CAST(COALESCE(tcount.n_triangles, 0) * 2000
                // (deg.degree * (deg.degree - 1)) AS BIGINT)
               AS clustering_permille
    FROM deg LEFT JOIN tcount ON deg.node = tcount.node
    WHERE deg.degree > 1
    ORDER BY deg.node
"""


@query("triangle_clustering_coeff", oracle=_TRI_ORACLE)
def triangle_clustering_coeff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Triangle counting + local clustering coefficient over the
    supplier co-purchase projection (suppliers joined by >=
    {_TRI_MIN_SHARED} shared customers). Spark runs the DEGREE-ORDERED
    ORIENTATION algorithm — every undirected edge is directed from its
    lower-(degree, id) endpoint, wedges are enumerated from each
    node's out-edges only, and each wedge is closed against the
    oriented edge set — so every triangle is found exactly once and
    the join fan-out per node is bounded by its ORIENTED out-degree
    (O(m^1.5) total work instead of Σdeg² — the difference between
    finishing and not on a power-law graph at 100 TB; the oracle
    counts the same triangles the naive a<b<c way). The clustering
    coefficient is exact integer permille: 2·1000·triangles /
    (deg·(deg-1))."""
    cat = Catalog(spark, sf_dir)
    pairs = (
        cat.orders.where(F.col("o_custkey") < _TRI_CUST_BOUND)
        .join(
            cat.lineitem,
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
    )
    a, b = pairs.alias("a"), pairs.alias("b")
    proj = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(
            F.col("a.s").alias("s1"), F.col("b.s").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("nshare"))
        .where(F.col("nshare") >= _TRI_MIN_SHARED)
        .select("s1", "s2")
        # r12 scan-count fix: the degree, orientation, two wedge
        # sides and the closing join each re-executed the projection
        # self-join from parquet — 94 fact scans measured. Checkpoint
        # the (sparse) projected edge list once; everything downstream
        # derives from it.
        .localCheckpoint()
    )
    deg = (
        proj.select(F.col("s1").alias("node"))
        .unionAll(proj.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient each edge from its lower-(degree, id) endpoint
    d1 = deg.select(
        F.col("node").alias("s1"), F.col("degree").alias("deg1")
    )
    d2 = deg.select(
        F.col("node").alias("s2"), F.col("degree").alias("deg2")
    )
    ed = proj.join(F.broadcast(d1), "s1").join(F.broadcast(d2), "s2")
    lower_first = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("s1") < F.col("s2"))
    )
    # oriented feeds both wedge sides and the closing join — one more
    # edge-sized checkpoint keeps those three consumers off the
    # orientation join's lineage
    oriented = ed.select(
        F.when(lower_first, F.col("s1")).otherwise(F.col("s2")).alias("u"),
        F.when(lower_first, F.col("s2")).otherwise(F.col("s1")).alias("v"),
    ).localCheckpoint()
    # wedges from shared pivot u: (u→v), (u→w) with v < w is one
    # candidate per unordered pair; close against either orientation
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.u") == F.col("w2.u"))
        & (F.col("w1.v") < F.col("w2.v")),
    ).select(
        F.col("w1.u").alias("p"),
        F.col("w1.v").alias("x"),
        F.col("w2.v").alias("y"),
    )
    # close with an EQUI semi-join: each oriented edge appears once, so
    # the union of both directions holds every edge exactly once per
    # direction and (x = cu AND y = cv) hash-matches the wedge iff the
    # undirected edge {x, y} exists. The previous OR-of-equality-pairs
    # predicate forced a BroadcastNestedLoopJoin — O(wedges × edges)
    # probe work and the full edge list resident in memory, worse than
    # the naive triple join at 100× graph scale.
    closer = oriented.select(
        F.col("u").alias("cu"), F.col("v").alias("cv")
    ).unionAll(
        oriented.select(F.col("v").alias("cu"), F.col("u").alias("cv"))
    )
    tri = wedges.join(
        closer,
        (F.col("x") == F.col("cu")) & (F.col("y") == F.col("cv")),
        "leftsemi",
    )
    # one pass over the triangle set: explode the three corners instead
    # of unioning three selects of `tri`, which inlined the whole
    # O(m^1.5) wedge-enumeration + close subtree 3× in the physical plan
    tnodes = (
        tri.select(
            F.explode(F.array("p", "x", "y")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tnodes, "node", "left")
        .where(F.col("degree") > 1)
        .select(
            "node",
            F.col("degree").cast("long"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.expr(
                "coalesce(n_triangles, 0) * 2000"
                " div (degree * (degree - 1))"
            )
            .cast("long")
            .alias("clustering_permille"),
        )
        .orderBy("node")
    )


# --------------------------------------------------------------------
# degree assortativity of the trade graph
# --------------------------------------------------------------------

_ASSORT_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS cn,
                  's' || CAST(l_suppkey AS VARCHAR) AS sn
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 60),
edges AS (
  SELECT cn AS src, sn AS dst FROM pairs
  UNION ALL SELECT sn AS src, cn AS dst FROM pairs),
deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS d
  FROM edges GROUP BY src),
ed AS (
  SELECT ds.d AS x, dd.d AS y
  FROM edges e JOIN deg ds ON e.src = ds.node
               JOIN deg dd ON e.dst = dd.node),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM ed)
SELECT m AS n_directed_edges,
       (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
         AS assortativity
FROM s
"""


@query("degree_assortativity", oracle=_ASSORT_ORACLE)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer↔supplier trade graph (the
    pagerank_trade_graph edge set): Pearson correlation between the
    endpoint degrees over every directed edge — negative means hubs
    attach to leaves (the usual bipartite signature). Degrees come
    from ONE aggregation reused on both endpoints via two joins that
    broadcast the (node-sized) degree table; the moment sums are
    exact int64 and r is one closed-form double."""
    cat = Catalog(spark, sf_dir)
    pairs = (
        cat.orders.where(F.col("o_custkey") < 60)
        .join(cat.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cn"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("sn"),
        )
        .distinct()
        # r12 scan-count fix: the degree table and both endpoint
        # joins re-executed the fact join (6 scans measured); one
        # edge-sized checkpoint
        .localCheckpoint()
    )
    edges = pairs.select(
        F.col("cn").alias("src"), F.col("sn").alias("dst")
    ).unionByName(
        pairs.select(F.col("sn").alias("src"), F.col("cn").alias("dst"))
    )
    # r13 subtree-sweep fix: "ONE aggregation reused on both
    # endpoints" must hold physically too — lazily both broadcast
    # sides re-ran the degree agg. Node-sized checkpoint.
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .withColumnRenamed("src", "node")
        .localCheckpoint()
    )
    ed = (
        edges.join(
            F.broadcast(deg.withColumnRenamed("d", "x")),
            edges.src == F.col("node"),
        )
        .drop("node")
        .join(
            F.broadcast(deg.withColumnRenamed("d", "y")),
            edges.dst == F.col("node"),
        )
        .select("x", "y")
    )
    s = ed.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return s.select(
        F.col("m").alias("n_directed_edges"),
        F.expr(
            "(CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            " / sqrt((CAST(m AS DOUBLE) * sxx"
            "          - CAST(sx AS DOUBLE) * sx)"
            "        * (CAST(m AS DOUBLE) * syy"
            "           - CAST(sy AS DOUBLE) * sy))"
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------
# HITS hub/authority (2 exact iterations)
# --------------------------------------------------------------------

_HITS_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 60),
a1 AS (
  SELECT dst AS node, CAST(count(*) AS BIGINT) AS a
  FROM pairs GROUP BY dst),
h1 AS (
  SELECT src AS node, CAST(sum(a1.a) AS BIGINT) AS h
  FROM pairs JOIN a1 ON pairs.dst = a1.node GROUP BY src),
a2 AS (
  SELECT dst AS node, CAST(sum(h1.h) AS BIGINT) AS a
  FROM pairs JOIN h1 ON pairs.src = h1.node GROUP BY dst),
h2 AS (
  SELECT src AS node, CAST(sum(a2.a) AS BIGINT) AS h
  FROM pairs JOIN a2 ON pairs.dst = a2.node GROUP BY src),
mh AS (SELECT max(h) AS m FROM h2),
ma AS (SELECT max(a) AS m FROM a2)
SELECT node, 'hub' AS role,
       CAST(h * 1000 // mh.m AS BIGINT) AS score_permille
FROM h2, mh
UNION ALL
SELECT node, 'authority' AS role,
       CAST(a * 1000 // ma.m AS BIGINT) AS score_permille
FROM a2, ma
ORDER BY role, node
"""


@query("hits_hub_authority", oracle=_HITS_ORACLE)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact HITS iterations over the customer→supplier trade
    graph (hubs = customers spreading orders widely, authorities =
    suppliers drawing from well-spread customers): a₁ = Aᵀ1 (in-
    degree), h₁ = A·a₁, a₂ = Aᵀ·h₁, h₂ = A·a₂ — each iteration ONE
    edge join + ONE destination aggregation (the pagerank BSP shape),
    all accumulators exact int64, output normalized to permille of
    the max by integer division. Unlike float HITS there is no
    per-iteration normalization to drift: scaling is deferred to the
    single exact division at the end."""
    cat = Catalog(spark, sf_dir)
    pairs = (
        cat.orders.where(F.col("o_custkey") < 60)
        .join(cat.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
        # r12 scan-count fix: all four HITS iterations plus the two
        # max probes re-executed the fact join (14 scans measured);
        # one edge-sized checkpoint makes the whole query one scan
        .localCheckpoint()
    )
    a1 = pairs.groupBy("dst").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    h1 = (
        pairs.join(F.broadcast(a1), "dst")
        .groupBy("src")
        .agg(F.sum("a").cast("long").alias("h"))
    )
    # r13 subtree-sweep fix: a2 has three consumers (h2, its max, the
    # authority rows) and h2 two (its max, the hub rows) — lazily each
    # consumer re-ran the whole iteration chain from the edge
    # checkpoint. Node-sized checkpoints make each iteration execute
    # exactly once.
    a2 = (
        pairs.join(F.broadcast(h1), "src")
        .groupBy("dst")
        .agg(F.sum("h").cast("long").alias("a"))
        .localCheckpoint()
    )
    h2 = (
        pairs.join(F.broadcast(a2), "dst")
        .groupBy("src")
        .agg(F.sum("a").cast("long").alias("h"))
        .localCheckpoint()
    )
    mh = h2.agg(F.max("h").alias("m"))
    ma = a2.agg(F.max("a").alias("m"))
    hubs = h2.crossJoin(F.broadcast(mh)).select(
        F.col("src").alias("node"),
        F.lit("hub").alias("role"),
        F.expr("CAST(h * 1000 div m AS BIGINT)").alias(
            "score_permille"
        ),
    )
    auths = a2.crossJoin(F.broadcast(ma)).select(
        F.col("dst").alias("node"),
        F.lit("authority").alias("role"),
        F.expr("CAST(a * 1000 div m AS BIGINT)").alias(
            "score_permille"
        ),
    )
    return auths.unionByName(hubs).orderBy("role", "node")


# --------------------------------------------------------------------
# two-hop reach
# --------------------------------------------------------------------

_HOP_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 60),
hop2 AS (
  SELECT a.c AS src, b.c AS reach
  FROM pairs a JOIN pairs b ON a.s = b.s
  WHERE a.c <> b.c)
SELECT src AS custkey,
       CAST(count(DISTINCT reach) AS BIGINT) AS two_hop_reach
FROM hop2 GROUP BY src ORDER BY custkey
"""


@query("two_hop_reach", oracle=_HOP_ORACLE)
def two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop neighborhood size on the bipartite trade graph: how
    many OTHER customers share at least one supplier (the
    friend-of-friend reach that collaborative filtering and risk
    propagation key on). One self-join of the deduplicated edge
    list on the shared supplier + a distinct count — at scale the
    join key (supplier) is the skew hazard, so the edge list is
    distinct-ed BEFORE the join and hub suppliers cap the fan-out."""
    cat = Catalog(spark, sf_dir)
    pairs = (
        cat.orders.where(F.col("o_custkey") < 60)
        .join(cat.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        # r13 subtree-sweep fix: both self-join sides re-ran the fact
        # join + distinct from parquet. Edge-sized — checkpoint once.
        .localCheckpoint()
    )
    a = pairs.alias("a")
    b = pairs.alias("b")
    hop2 = a.join(
        b,
        (F.col("a.s") == F.col("b.s")) & (F.col("a.c") != F.col("b.c")),
    ).select(F.col("a.c").alias("src"), F.col("b.c").alias("reach"))
    return (
        hop2.groupBy(F.col("src").alias("custkey"))
        .agg(F.countDistinct("reach").cast("long").alias("two_hop_reach"))
        .orderBy("custkey")
    )


# --------------------------------------------------------------------
# k-core peeling profile
# --------------------------------------------------------------------

#: k-core threshold and the FIXED number of unrolled peel rounds —
#: both engines run exactly KCORE_ROUNDS rounds, so parity never
#: depends on when the fixpoint lands; the converged flag makes the
#: fixpoint claim part of the gated output. At gate scale (sf0.01)
#: the 16-core converges to 139 nodes by round 5.
KCORE_K = 16
KCORE_ROUNDS = 6


def _kcore_round_sql(i: int) -> str:
    # AS MATERIALIZED: every round is referenced by the next round
    # (twice) and by the profile union — without materialization
    # DuckDB re-inlines the whole peel chain per reference and the
    # oracle goes exponential in the round count (26 s vs 0.3 s at
    # sf0.01).
    return f"""
e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM edges e
         JOIN n{i - 1} a ON e.src = a.n
         JOIN n{i - 1} b ON e.dst = b.n),
d{i} AS (SELECT src AS n, count(*) AS d FROM e{i} GROUP BY src),
n{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE d >= {KCORE_K})"""


_KCORE_ORACLE = (
    """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < 60),
edges AS (
  SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
  UNION ALL
  SELECT 's' || s AS src, 'c' || c AS dst FROM pairs),
n0 AS (SELECT DISTINCT src AS n FROM edges),"""
    + ",".join(_kcore_round_sql(i) for i in range(1, KCORE_ROUNDS + 1))
    + ", profile AS ("
    + " UNION ALL ".join(
        f"SELECT {i} AS round,"
        f" (SELECT count(*) FROM n{i}) AS nodes,"
        f" (SELECT count(*) FROM e{i}) AS live_edges"
        for i in range(1, KCORE_ROUNDS + 1)
    )
    + f""")
SELECT CAST(round AS BIGINT) AS round, CAST(nodes AS BIGINT) AS nodes,
       CAST(live_edges AS BIGINT) AS live_edges,
       CAST((SELECT count(*) FROM n{KCORE_ROUNDS - 1})
            = (SELECT count(*) FROM n{KCORE_ROUNDS}) AS BOOLEAN)
           AS converged
FROM profile ORDER BY round
"""
)


@query("kcore_peeling_profile", oracle=_KCORE_ORACLE)
def kcore_peeling_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iterative k-core decomposition (repeatedly drop nodes with
    degree < k) on the undirected trade graph — the standard
    community-periphery peel. Both engines run a FIXED
    {KCORE_ROUNDS}-round unroll (cites graph.py's shared edge
    definition), emitting the surviving node/edge counts per round
    plus a converged flag comparing the last two rounds — the
    fixpoint claim is part of the gated output, so an early data
    change that breaks convergence turns the row red instead of
    silently reporting a non-core. Per round: one self-semi-join of
    the edge list against the surviving node set (shuffle keyed on
    node id) + one degree aggregation — the BSP shape; round count is
    bounded by core cascade depth, not corpus size. The driver-side
    loop carries only DataFrame lineage, never data."""
    o = Catalog(spark, sf_dir).orders
    li = Catalog(spark, sf_dir).lineitem
    pairs = (
        o.where(F.col("o_custkey") < 60)
        .join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
    )
    fwd = pairs.select(
        F.concat(F.lit("c"), F.col("c")).alias("src"),
        F.concat(F.lit("s"), F.col("s")).alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    edges = edges.persist()
    # the survivor set lives on the driver between rounds: this query
    # profiles the BOUNDED analytic subgraph (o_custkey < 60 — the
    # same bound graph.py's pagerank uses), so the node dimension is
    # a k/bounded collect (the kmeans-codebook pattern) and each
    # round is ONE job: an isin-filtered map-side scan of the cached
    # edge list + one degree aggregation. On an unbounded graph the
    # same peel runs with per-round broadcast semi-joins instead of
    # literal membership — mechanical swap, same round structure.
    alive = None  # None = round 1, all nodes alive
    profile = []
    prev_nodes = None
    for i in range(1, KCORE_ROUNDS + 1):
        live = edges
        if alive is not None:
            live = edges.where(
                F.col("src").isin(alive) & F.col("dst").isin(alive)
            )
        deg_rows = (
            live.groupBy(F.col("src").alias("n"))
            .agg(F.count(F.lit(1)).alias("d"))
            .collect()
        )
        n_edges = sum(r.d for r in deg_rows)
        nxt = [r.n for r in deg_rows if r.d >= KCORE_K]
        profile.append((i, len(nxt), n_edges))
        if i == KCORE_ROUNDS - 1:
            prev_nodes = len(nxt)
        alive = nxt
    edges.unpersist()
    converged = prev_nodes == profile[-1][1]
    return spark.createDataFrame(
        [(r, n, e, converged) for (r, n, e) in profile],
        "round long, nodes long, live_edges long, converged boolean",
    )


# --------------------------------------------------------------------
# resource-allocation link prediction
# --------------------------------------------------------------------

#: customer bound for the analytic trade subgraph (the kcore/pagerank
#: bound) and the shared-neighbour degree cap: suppliers serving more
#: than RA_DEG_CAP of the bounded customers are excluded from pair
#: generation AND from the scores (the standard posting-cap trade:
#: hub neighbours carry near-zero RA weight anyway — 1/deg — and
#: would dominate the pair count quadratically). 64 keeps the smoke
#: scale non-vacuous (sf0.001's only shared suppliers are hubs with
#: degree up to 60; sf0.01's max degree is 28).
RA_CUST_BOUND = 60
RA_DEG_CAP = 64
RA_TOP = 30

_RA_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey < {RA_CUST_BOUND}),
ds AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM pairs GROUP BY s),
dc AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM pairs GROUP BY c),
elig AS (
  SELECT pairs.c, pairs.s, ds.d FROM pairs
  JOIN ds ON pairs.s = ds.s WHERE ds.d <= {RA_DEG_CAP}),
cand AS (
  SELECT a.c AS c1, b.c AS c2, a.d
  FROM elig a JOIN elig b ON a.s = b.s AND a.c < b.c),
sc AS (
  SELECT c1, c2, CAST(count(*) AS BIGINT) AS common_n,
         CAST(sum(1000000 // d) AS BIGINT) AS ra_micro
  FROM cand GROUP BY c1, c2)
SELECT c1, c2, common_n, ra_micro,
       CAST(common_n * 1000 // (d1.d + d2.d - common_n) AS BIGINT)
           AS jaccard_permille
FROM sc JOIN dc d1 ON sc.c1 = d1.c JOIN dc d2 ON sc.c2 = d2.c
ORDER BY ra_micro DESC, c1, c2 LIMIT {RA_TOP}
"""


@query("ra_link_prediction", oracle=_RA_ORACLE)
def ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the bounded customer–supplier trade graph:
    for customer pairs sharing at least one (degree-capped) supplier,
    the common-neighbour count, neighbourhood Jaccard (permille), and
    the resource-allocation index Σ_z 1/deg(z) in exact micro units
    (1_000_000 div deg per shared supplier — integer, so no float
    sum order can reorder two near-tied candidate pairs between
    engines). Pair generation is keyed on the shared supplier and
    degree-capped at {RA_DEG_CAP} (posting-cap discipline — work is
    Σ deg², never |C|²); neighbour degrees are broadcast-joined onto
    the bounded score table. Top {RA_TOP} with deterministic
    (ra, c1, c2) ordering."""
    o = Catalog(spark, sf_dir).orders
    li = Catalog(spark, sf_dir).lineitem
    pairs = (
        o.where(F.col("o_custkey") < RA_CUST_BOUND)
        .join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        # r12 scan-count fix: both degree tables, the eligibility
        # join and both candidate sides re-executed the fact join
        # (6 scans measured); one edge-sized checkpoint
        .localCheckpoint()
    )
    # r13 subtree-sweep fix: the eligibility join fed both candidate
    # sides and the customer-degree table both broadcast sides — each
    # re-ran off the edge checkpoint. One edge-sized and one
    # dimension-sized checkpoint make them single-pass.
    ds = pairs.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    dc = (
        pairs.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint()
    )
    elig = pairs.join(
        F.broadcast(ds.where(F.col("d") <= RA_DEG_CAP)), "s"
    ).localCheckpoint()
    a = elig.select(F.col("c").alias("c1"), "s", "d")
    b = elig.select(F.col("c").alias("c2"), "s")
    sc = (
        a.join(b, "s")
        .where(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_n"),
            F.sum(F.expr("1000000 div d")).cast("long").alias("ra_micro"),
        )
    )
    d1 = dc.select(F.col("c").alias("c1"), F.col("d").alias("deg1"))
    d2 = dc.select(F.col("c").alias("c2"), F.col("d").alias("deg2"))
    return (
        sc.join(F.broadcast(d1), "c1")
        .join(F.broadcast(d2), "c2")
        .select(
            "c1",
            "c2",
            "common_n",
            "ra_micro",
            F.expr("common_n * 1000 div (deg1 + deg2 - common_n)")
            .cast("long")
            .alias("jaccard_permille"),
        )
        .orderBy(F.desc("ra_micro"), "c1", "c2")
        .limit(RA_TOP)
    )


# --------------------------------------------------------------------
# bipartite co-supply projection
# --------------------------------------------------------------------

#: per-part supplier-degree cap for the pair projection — the same
#: posting-cap discipline as dedup_ngram_jaccard: a part supplied by
#: d suppliers contributes d(d-1)/2 pairs, so one mega-degree hub
#: part would quadratically dominate the join. TPC-H's ratio is 4
#: suppliers/part; 64 carries 16x headroom and is observable (a part
#: over the cap is EXCLUDED, not truncated, in both engines).
COSUPPLY_MAX_DEGREE = 64

_COSUPPLY_ORACLE = f"""
WITH e AS (SELECT DISTINCT l_partkey AS part, l_suppkey AS sup
           FROM lineitem),
deg AS (SELECT part FROM e GROUP BY part
        HAVING count(*) <= {COSUPPLY_MAX_DEGREE}),
keep AS (SELECT e.part, e.sup FROM e JOIN deg USING (part)),
pairs AS (
  SELECT a.sup AS s1, b.sup AS s2, count(*) AS shared_parts
  FROM keep a JOIN keep b
    ON a.part = b.part AND a.sup < b.sup
  GROUP BY a.sup, b.sup)
SELECT s1, s2, CAST(shared_parts AS BIGINT) AS shared_parts
FROM pairs WHERE shared_parts >= 3
ORDER BY shared_parts DESC, s1, s2
"""


@query("cosupply_bipartite_projection", oracle=_COSUPPLY_ORACLE)
def cosupply_bipartite_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-mode projection of the supplier–part bipartite graph:
    supplier pairs weighted by the number of parts both supply (the
    collaboration/substitute network every procurement analysis
    starts from). Pair generation is keyed on the part — each part of
    degree d contributes d(d−1)/2 pairs — and degree-capped at
    {COSUPPLY_MAX_DEGREE} exactly like the dedup family's posting
    caps, so a hub part cannot blow the join up quadratically;
    excluded parts are dropped whole (observable), never silently
    truncated. The projection then aggregates pair weight and keeps
    pairs sharing ≥3 parts. Self-join is on the co-partitioned part
    key — at cluster scale both sides shuffle once on part and the
    pair space never materializes beyond capped-degree blocks."""
    li = Catalog(spark, sf_dir).lineitem
    # r12 scan-count fix: the degree filter and both self-join sides
    # re-ran the distinct from parquet (4 scans measured); checkpoint
    # the bipartite edge list once
    e = (
        li.select(
            F.col("l_partkey").alias("part"),
            F.col("l_suppkey").alias("sup"),
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.groupBy("part")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") <= COSUPPLY_MAX_DEGREE)
        .select("part")
    )
    # r13 subtree-sweep fix: both self-join sides re-ran the degree
    # filter join off the edge checkpoint; the capped edge list is
    # edge-sized — checkpoint it so the filter executes once.
    keep = e.join(deg, "part").localCheckpoint()
    a = keep.alias("a")
    b = keep.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.part") == F.col("b.part"))
            & (F.col("a.sup") < F.col("b.sup")),
        )
        .groupBy(
            F.col("a.sup").alias("s1"), F.col("b.sup").alias("s2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_parts"))
    )
    return (
        pairs.where(F.col("shared_parts") >= 3)
        .orderBy(F.desc("shared_parts"), "s1", "s2")
    )


# --------------------------------------------------------------------
# DAG longest-path layering (topological layers)
# --------------------------------------------------------------------

#: node bound fixes the DAG depth: every edge at least doubles the
#: key, so any path from a key ≥ 1 has ≤ floor(log2(500)) = 8 edges —
#: 8 propagation rounds reach every longest path at any scale factor.
_TOPO_MAX_KEY = 500
_TOPO_ROUNDS = 8

_TOPO_ORACLE = f"""
WITH RECURSIVE nodes AS (
  SELECT p_partkey AS n FROM part
  WHERE p_partkey BETWEEN 1 AND {_TOPO_MAX_KEY}),
edges AS (
  SELECT a.n AS src, b.n AS dst
  FROM nodes a JOIN nodes b ON b.n = a.n * 2 OR b.n = a.n * 3),
paths AS (
  SELECT n, 0 AS layer FROM nodes
  UNION
  SELECT e.dst, p.layer + 1
  FROM paths p JOIN edges e ON e.src = p.n)
SELECT n AS node, CAST(max(layer) AS BIGINT) AS layer
FROM paths GROUP BY n ORDER BY node
"""


@query("topo_sort_layers", oracle=_TOPO_ORACLE)
def topo_sort_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological layering (longest path from any source) of the
    doubling/tripling DAG over part keys — the dependency-scheduling
    primitive (build graphs, lineage DAGs, staged backfills). Computed
    by frontier propagation, the exact dataflow of the oracle's
    recursive CTE: frontier₀ = all nodes at layer 0, frontierᵢ₊₁ =
    frontierᵢ ⋈ edges (layer+1), and ONE final per-node max over the
    union of all frontiers — each round is a single equi-join, the
    frontier shrinks monotonically (sinks leave), and no intermediate
    re-aggregation inflates the lineage (the naive
    relax-all-nodes-per-round variant was 10 aggs deep and 8× slower
    at gate scale). The node-key bound fixes DAG depth ≤ 8, so 8
    rounds reach every longest path at any scale factor; no
    driver-side state beyond the loop counter (at cluster scale each
    frontier would be persisted to cut lineage). The DuckDB oracle
    replays the same fixpoint as a recursive CTE with UNION-dedup, so
    every layer value is verified, not just the shape."""
    cat = Catalog(spark, sf_dir)
    # nodes feeds the two candidate-edge selects, the edge join's
    # build side and frontier-0 — checkpoint the (bounded, <= 500
    # rows) node set so part is scanned once, not four times
    nodes = (
        cat.part.where(
            (F.col("p_partkey") >= 1)
            & (F.col("p_partkey") <= _TOPO_MAX_KEY)
        )
        .select(F.col("p_partkey").alias("n"))
        .localCheckpoint()
    )
    cand = nodes.select(
        F.col("n").alias("src"), (F.col("n") * 2).alias("dst")
    ).unionByName(
        nodes.select(
            F.col("n").alias("src"), (F.col("n") * 3).alias("dst")
        )
    )
    # r13 subtree-sweep fix: `frontier` is consumed twice per round
    # (the next propagation join and the `reached` union), so the lazy
    # loop re-inlined every earlier round — the round-1 join appeared
    # 8x in the final plan and `part` was re-scanned ~28x (invisible
    # to the fact-table scan audit, which doesn't count part). The
    # edge list is checkpointed once and each (shrinking, node-sized)
    # frontier once per round: every join now executes exactly once.
    edges = (
        cand.join(nodes.withColumnRenamed("n", "dst"), "dst")
        .select("src", "dst")
        .localCheckpoint()
    )
    frontier = nodes.select(
        "n", F.lit(0).alias("layer")
    ).localCheckpoint()
    reached = frontier
    for _ in range(_TOPO_ROUNDS):
        frontier = (
            edges.join(frontier, edges.src == frontier.n)
            .select(
                F.col("dst").alias("n"),
                (F.col("layer") + 1).alias("layer"),
            )
            .localCheckpoint()
        )
        reached = reached.unionByName(frontier)
    layers = reached.groupBy("n").agg(F.max("layer").alias("layer"))
    return layers.select(
        F.col("n").alias("node"), F.col("layer").cast("long")
    ).orderBy("node")

"""Relational domain: joins, subqueries, set operations and SQL clause
semantics.

Semi/anti/null-safe/natural/band/interval joins, correlated and scalar
subqueries, CTEs (including recursive), set algebra, ordering, paging
and clause-level HiveQL/Spark SQL semantics (QUALIFY, FETCH WITH TIES,
GROUP BY ordinals, lateral aliases, join and partitioning hints).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import ORDER_CENTS, Catalog
from hdsp_hive_release_src_spark.operators.skew import salted_join
from hdsp_hive_release_src_spark.registry import query
from hdsp_hive_release_src_spark.sources.io import (
    fresh_managed_table,
    scratch_path,
)


# --------------------------------------------------- joins & set ops

@query(
    "semi_join_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers with ≥1 urgent order."""
    cat = Catalog(spark, sf_dir)
    urgent = cat.orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        cat.customer.join(
            urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
        )
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'F')
    ORDER BY c_custkey
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no finished orders."""
    cat = Catalog(spark, sf_dir)
    fin = cat.orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        cat.customer.join(
            fin, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "set_ops",
    oracle="""
    SELECT c_custkey FROM (
      (SELECT o_custkey AS c_custkey FROM orders
       WHERE o_orderpriority = '1-URGENT'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    ) ORDER BY c_custkey
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT + EXCEPT chain over order-customer sets."""
    o = Catalog(spark, sf_dir).orders
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    open_ = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    pend = o.where(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return urgent.intersect(open_).exceptAll(pend.distinct()).orderBy(
        "c_custkey"
    )


# ------------------------------------------------ aggregate varieties

@query(
    "distinct_agg",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregate (expand-based plan)."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# ------------------------------------------------------- subqueries / CTE

@query(
    "cte_top_nation_revenue",
    oracle="""
    WITH cust_rev AS (
      SELECT o_custkey, sum(o_totalprice) AS rev FROM orders
      GROUP BY o_custkey
    ), nation_rev AS (
      SELECT c_nationkey, sum(rev) AS nation_rev, count(*) AS n_cust
      FROM cust_rev JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
    )
    SELECT n_name, round(nation_rev, 2) AS nation_rev, n_cust
    FROM nation_rev JOIN nation ON c_nationkey = n_nationkey
    ORDER BY nation_rev DESC, n_name
    LIMIT 5
    """,
)
def cte_top_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-CTE pipeline: customer revenue → nation revenue → top 5."""
    cat = Catalog(spark, sf_dir)
    cust_rev = cat.orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev")
    )
    nation_rev = (
        cust_rev.join(
            F.broadcast(cat.customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy("c_nationkey")
        .agg(F.sum("rev").alias("nation_rev"), F.count(F.lit(1)).alias("n_cust"))
    )
    return (
        nation_rev.join(
            F.broadcast(cat.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name", F.round("nation_rev", 2).alias("nation_rev"), "n_cust"
        )
        .orderBy(F.desc("nation_rev"), "n_name")
        .limit(5)
    )


@query(
    "correlated_exists",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey AND l_quantity > 45)
    ORDER BY s_suppkey
    """,
)
def correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS via SQL (Catalyst rewrites to a semi join)."""
    cat = Catalog(spark, sf_dir)
    cat.supplier.createOrReplaceTempView("ce_supplier")
    cat.lineitem.createOrReplaceTempView("ce_lineitem")
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM ce_supplier
        WHERE EXISTS (SELECT 1 FROM ce_lineitem
                      WHERE l_suppkey = s_suppkey AND l_quantity > 45)
        ORDER BY s_suppkey
        """
    )


@query(
    "scalar_subquery_filter",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter against a scalar subquery (broadcast single-row join)."""
    o = Catalog(spark, sf_dir).orders
    avg_p = o.agg(F.avg("o_totalprice").alias("avg_p"))
    return (
        o.join(F.broadcast(avg_p))
        .where(F.col("o_totalprice") > 1.5 * F.col("avg_p"))
        .select(
            "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


_SHARED_SQL = """
    WITH cust_orders AS (
      SELECT c_mktsegment, o_orderstatus, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey)
    SELECT c_mktsegment, o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM cust_orders
    GROUP BY c_mktsegment, o_orderstatus
    ORDER BY c_mktsegment, o_orderstatus
"""


@query("sql_over_views", oracle=_SHARED_SQL)
def sql_over_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HiveQL entry point: register temp views, run a raw SQL
    string. The SAME string is the oracle — byte-identical SQL against
    Spark and DuckDB proves the ANSI-subset surface, not just the
    DataFrame API."""
    cat = Catalog(spark, sf_dir)
    cat.orders.createOrReplaceTempView("orders")
    cat.customer.createOrReplaceTempView("customer")
    return spark.sql(_SHARED_SQL)


@query(
    "null_safe_join",
    oracle="""
    WITH lhs AS (
      SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
      FROM customer),
    segs AS (SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS seg
             FROM customer)
    SELECT segs.seg, count(*) AS n_custs
    FROM lhs JOIN segs ON lhs.seg IS NOT DISTINCT FROM segs.seg
    GROUP BY segs.seg ORDER BY segs.seg NULLS FIRST
    """,
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive's <=> null-safe equality join: NULL keys match each other
    (a plain equi-join drops them). The BUILDING segment is nulled out
    to exercise the NULL bucket. Note: at scale a null-safe join sends
    ALL null keys to one partition — salt them if nulls are hot."""
    c = Catalog(spark, sf_dir).customer
    lhs = c.select(
        "c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg")
    )
    segs = lhs.select("seg").distinct().withColumnRenamed("seg", "rseg")
    return (
        lhs.join(F.broadcast(segs), lhs.seg.eqNullSafe(segs.rseg))
        .groupBy(F.col("rseg").alias("seg"))
        .agg(F.count(F.lit(1)).alias("n_custs"))
        .orderBy(F.asc_nulls_first("seg"))
    )


_CORRELATED_SCALAR_SQL = """
    SELECT o_orderkey, o_totalprice,
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_quantity > 25)
               AS n_bulk_items
    FROM orders
    WHERE o_orderkey < 2000
    ORDER BY o_orderkey
"""


@query("correlated_scalar_select", oracle=_CORRELATED_SCALAR_SQL)
def correlated_scalar_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery in the SELECT list — Catalyst
    decorrelates it into an aggregate + left outer join (no per-row
    rescan; the only plan that survives at scale). Same SQL string
    runs as the oracle."""
    cat = Catalog(spark, sf_dir)
    cat.orders.createOrReplaceTempView("orders")
    cat.lineitem.createOrReplaceTempView("lineitem")
    return spark.sql(_CORRELATED_SCALAR_SQL)


@query(
    "full_outer_join",
    oracle="""
    WITH urgent AS (
      SELECT CAST(date_trunc('day', CAST(o_orderdate AS TIMESTAMP))
                  AS TIMESTAMP) AS day, count(*) AS n_urgent
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY day),
    big AS (
      SELECT CAST(date_trunc('day', CAST(o_orderdate AS TIMESTAMP))
                  AS TIMESTAMP) AS day, count(*) AS n_big
      FROM orders WHERE o_totalprice > 400000 GROUP BY day)
    SELECT coalesce(u.day, b.day) AS day,
           coalesce(n_urgent, 0) AS n_urgent,
           coalesce(n_big, 0) AS n_big,
           (u.day IS NULL OR b.day IS NULL) AS one_sided
    FROM urgent u FULL OUTER JOIN big b ON u.day = b.day
    ORDER BY day
    """,
)
def full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN (the one outer-join flavor the other queries
    don't cover): days with urgent orders ⟗ days with big-ticket
    orders — days on one side only surface with NULLs, coalesced to 0,
    and the one_sided flag proves both unmatched branches occur. At
    scale a full outer join shuffles both sides on the key (no
    broadcast shortcut exists for FULL OUTER in Spark) — keep keys
    low-cardinality-skew-free; AQE handles the rest."""
    o = Catalog(spark, sf_dir).orders
    day = F.date_trunc("day", F.col("o_orderdate").cast("timestamp"))
    urgent = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(day.alias("u_day"))
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    big = (
        o.where(F.col("o_totalprice") > 400000)
        .groupBy(day.alias("b_day"))
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    j = urgent.join(big, urgent.u_day == big.b_day, "full_outer")
    return (
        j.select(
            F.coalesce("u_day", "b_day").alias("day"),
            F.coalesce("n_urgent", F.lit(0)).alias("n_urgent"),
            F.coalesce("n_big", F.lit(0)).alias("n_big"),
            (F.col("u_day").isNull() | F.col("b_day").isNull()).alias(
                "one_sided"
            ),
        )
        .orderBy("day")
    )


@query(
    "set_ops_all",
    oracle="""
    WITH asia AS (
      SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
    euro AS (
      SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 5000)
    SELECT 'intersect_all' AS op, k FROM
      (SELECT k FROM asia INTERSECT ALL SELECT k FROM euro)
    UNION ALL
    SELECT 'except_all' AS op, k FROM
      (SELECT k FROM asia EXCEPT ALL SELECT k FROM euro)
    ORDER BY op, k
    """,
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL): duplicates
    carry multiplicity — min(m1, m2) and m1 - m2 respectively — which
    the DISTINCT variants in `set_ops` erase. Spark compiles both to a
    single count-compare aggregation, no join explosion."""
    c = Catalog(spark, sf_dir).customer
    a = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").alias("k")
    )
    b = c.where(F.col("c_acctbal") > 5000).select(
        F.col("c_nationkey").alias("k")
    )
    return (
        a.intersectAll(b)
        .select(F.lit("intersect_all").alias("op"), "k")
        .unionByName(
            a.exceptAll(b).select(F.lit("except_all").alias("op"), "k")
        )
        .orderBy("op", "k")
    )


# --------------------------------------------------------------------
# NATURAL JOIN semantics
# --------------------------------------------------------------------

_NATURAL_ORACLE = """
WITH sup AS (
  SELECT s_nationkey AS nationkey,
         CAST(count(*) AS BIGINT) AS suppliers
  FROM supplier GROUP BY s_nationkey),
cust AS (
  SELECT c_nationkey AS nationkey,
         CAST(count(*) AS BIGINT) AS customers
  FROM customer GROUP BY c_nationkey)
SELECT nationkey, suppliers, customers
FROM sup NATURAL JOIN cust
ORDER BY nationkey
"""


@query("natural_join_semantics", oracle=_NATURAL_ORACLE)
def natural_join_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATURAL JOIN surface parity: the join condition is inferred
    from the shared column name (nationkey) and the shared column is
    emitted ONCE — the classic warehouse SQL shorthand Hive/Spark
    both support. Runs as genuine SQL (not an explicit-condition
    DataFrame join) over two temp-view aggregates so the parser path
    is the thing under test; the physical plan is the same broadcast
    hash join an explicit USING join produces (both sides are
    nation-cardinality aggregates — bounded)."""
    cat = Catalog(spark, sf_dir)
    cat.supplier.groupBy(
        F.col("s_nationkey").alias("nationkey")
    ).agg(F.count(F.lit(1)).cast("long").alias("suppliers")
    ).createOrReplaceTempView("nj_sup")
    cat.customer.groupBy(
        F.col("c_nationkey").alias("nationkey")
    ).agg(F.count(F.lit(1)).cast("long").alias("customers")
    ).createOrReplaceTempView("nj_cust")
    return spark.sql(
        """
        SELECT nationkey, suppliers, customers
        FROM nj_sup NATURAL JOIN nj_cust
        ORDER BY nationkey
        """
    )


@query(
    "not_in_null_semantics",
    oracle="""
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN
             (SELECT o_custkey FROM orders WHERE o_orderkey < 1000))
          AS not_in_clean,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN
             (SELECT CASE WHEN o_orderkey = 999 THEN NULL
                          ELSE o_custkey END
              FROM orders WHERE o_orderkey < 1000))
          AS not_in_with_null,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS
             (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderkey < 1000))
          AS not_exists
    """,
)
def not_in_null_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The NOT IN null trap, tri-valued logic made visible: NOT IN
    against a subquery that CONTAINS a NULL returns zero rows (x <>
    NULL is UNKNOWN, so no row can ever pass), while the same
    predicate without the NULL — and the NOT EXISTS form, which is
    null-immune — return the real anti-join count. Spark plans the
    nullable variant as a NullAwareAntiJoin (plan-asserted in
    tests); engines that get this wrong silently return wrong
    answers on any nullable FK. All three counts in one row so
    parity proves the semantics, not just one happy path."""
    cat = Catalog(spark, sf_dir)
    cat.customer.createOrReplaceTempView("nin_customer")
    cat.orders.createOrReplaceTempView("nin_orders")
    return spark.sql(
        """
        SELECT
          (SELECT count(*) FROM nin_customer
           WHERE c_custkey NOT IN
                 (SELECT o_custkey FROM nin_orders
                  WHERE o_orderkey < 1000)) AS not_in_clean,
          (SELECT count(*) FROM nin_customer
           WHERE c_custkey NOT IN
                 (SELECT CASE WHEN o_orderkey = 999 THEN NULL
                              ELSE o_custkey END
                  FROM nin_orders WHERE o_orderkey < 1000))
              AS not_in_with_null,
          (SELECT count(*) FROM nin_customer c
           WHERE NOT EXISTS
                 (SELECT 1 FROM nin_orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderkey < 1000)) AS not_exists
        """
    )


@query(
    "band_join_order_pairs",
    oracle="""
    SELECT a.o_custkey AS custkey, count(*) AS n_pairs
    FROM orders a
    JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND abs(datediff('day', a.o_orderdate, b.o_orderdate)) <= 30
    GROUP BY a.o_custkey
    ORDER BY custkey
    """,
)
def band_join_order_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders placed by the same customer within 30 days of each other:
    equi-join on custkey + date-band residual filter (k1 < k2 dedups
    the pair). Catalyst plans this as a plain shuffled equi-join with
    the band as a post-join filter — no cartesian product."""
    o = Catalog(spark, sf_dir).orders
    a = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderdate").alias("d1"),
    )
    b = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderdate").alias("d2"),
    )
    return (
        a.join(b, "custkey")
        .where(
            (F.col("k1") < F.col("k2"))
            & (F.abs(F.datediff("d2", "d1")) <= 30)
        )
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("custkey")
    )


@query(
    "skew_salted_join_agg",
    oracle="""
    SELECT o.o_orderstatus,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
               AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact-fact join as a first-class query: the salted
    join (operators/skew.py — left keys spread over 8 salts, right side
    replicated 8x) must produce EXACTLY the plain join's result, so the
    oracle is the plain join. On a cluster this is the manual fallback
    when AQE skew-split can't help (e.g. a single hot key inside one
    partition-sized unit)."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = cat.orders.select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    j = salted_join(li, o, key="l_orderkey", n_salts=8)
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "recursive_cte_hierarchy",
    oracle="""
    WITH RECURSIVE chain AS (
      SELECT s_suppkey, s_suppkey AS root, 0 AS depth
      FROM supplier WHERE s_suppkey < 10
      UNION ALL
      SELECT s.s_suppkey, c.root, c.depth + 1
      FROM supplier s JOIN chain c ON s.s_suppkey // 10 = c.s_suppkey
      WHERE s.s_suppkey >= 10)
    SELECT CAST(root AS BIGINT) AS root,
           CAST(depth AS INTEGER) AS depth,
           count(*) AS n, CAST(sum(s_suppkey) AS BIGINT) AS key_sum
    FROM chain GROUP BY root, depth ORDER BY root, depth
    """,
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4): suppliers form an implicit decimal
    hierarchy (parent = suppkey // 10); the recursive CTE walks from
    the single-digit roots down, labeling every supplier with its root
    and depth — org-chart / BOM traversal, the one query shape plain
    SQL can't express without a fixed unroll. Identical SQL runs on
    both engines. Each recursion level is one self-join on the (tiny)
    frontier — depth bounds the iteration, not corpus size."""
    Catalog(spark, sf_dir).supplier.createOrReplaceTempView(
        "rec_supplier_src"
    )
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT s_suppkey, s_suppkey AS root, 0 AS depth
          FROM rec_supplier_src WHERE s_suppkey < 10
          UNION ALL
          SELECT s.s_suppkey, c.root, c.depth + 1
          FROM rec_supplier_src s
          JOIN chain c ON CAST(s.s_suppkey / 10 AS BIGINT) = c.s_suppkey
          WHERE s.s_suppkey >= 10)
        SELECT root, depth, count(*) AS n,
               sum(s_suppkey) AS key_sum
        FROM chain GROUP BY root, depth ORDER BY root, depth
        """
    )


@query(
    "lateral_topk_join",
    oracle="""
    SELECT n.n_name, t.c_custkey, round(t.c_acctbal, 2) AS acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    ORDER BY n.n_name, acctbal DESC, t.c_custkey
    """,
)
def lateral_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery in FROM — "top-2 customers per
    nation" phrased as a per-row subquery, the modern SQL alternative
    to the window-filter idiom (window_topk_per_group). Catalyst
    decorrelates it into a join + ranked window, so the executed plan
    is the scalable one even though the SQL reads row-at-a-time."""
    cat = Catalog(spark, sf_dir)
    cat.nation.createOrReplaceTempView("lat_nation_src")
    cat.customer.createOrReplaceTempView("lat_customer_src")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, round(t.c_acctbal, 2) AS acctbal
        FROM lat_nation_src n, LATERAL (
          SELECT c_custkey, c_acctbal FROM lat_customer_src
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        ORDER BY n.n_name, acctbal DESC, t.c_custkey
        """
    )


@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_lines,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderkey < 5000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join: both sides written
    bucketBy(8, orderkey) sortBy(orderkey) into catalog tables, then
    joined on the bucket key — Spark aligns the buckets and the join
    runs with NO shuffle exchange on either side (asserted in
    tests/test_scale_patterns.py). THE pre-partitioning pattern for a
    fact table joined on the same key every day at 100 TB: pay the
    bucketed write once, skip the dominant shuffle on every read.
    Values must equal the plain join (oracle)."""
    cat = Catalog(spark, sf_dir)
    for tbl in ("bk_lineitem", "bk_orders"):
        fresh_managed_table(spark, tbl)
    (
        cat.lineitem.where(F.col("l_orderkey") < 5000)
        .select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("bk_lineitem")
    )
    (
        cat.orders.where(F.col("o_orderkey") < 5000)
        .select("o_orderkey", "o_orderpriority")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("bk_orders")
    )
    li = spark.table("bk_lineitem")
    o = spark.table("bk_orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "interval_overlap_join",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 7 AS e
      FROM orders WHERE o_orderkey < 1200),
    pts AS (
      SELECT CAST(l_shipdate AS DATE) AS p FROM lineitem
      WHERE l_orderkey >= 3000 AND l_orderkey < 4500)
    SELECT iv.o_orderkey, count(pts.p) AS n_ships
    FROM iv LEFT JOIN pts ON pts.p >= iv.s AND pts.p < iv.e
    GROUP BY iv.o_orderkey ORDER BY iv.o_orderkey
    """,
)
def interval_overlap_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pure range join — point-in-interval with NO equi key (ships
    from unrelated orders counted inside each order's 7-day window).
    Naively this is a cartesian product with an inequality filter —
    the plan shape that does not complete at scale. The classic fix,
    implemented here: GRID BUCKETING. Time is cut into buckets the
    width of the interval (7 days), each interval is replicated into
    the ≤2 distinct buckets it touches (array_distinct — a
    same-bucket duplicate would double-count), each point lands in
    exactly ONE bucket, and the join becomes an EQUI-join on bucket
    id + a residual range filter. A point can meet an interval only
    in the point's own bucket, so no post-join dedup is needed.
    Cost: shuffle on bucket id with ≤2× interval replication — vs
    |iv|×|pts| for the cross join. The oracle computes the naive
    quadratic form (fine at test scale), so parity proves the
    bucketed rewrite is EXACTLY the naive semantics, zeros included
    (left join keeps empty windows). No CartesianProduct in the plan
    (test-asserted)."""
    cat = Catalog(spark, sf_dir)
    epoch = F.lit("1970-01-01").cast("date")
    iv = (
        cat.orders.where(F.col("o_orderkey") < 1200)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("s"),
            F.date_add(F.col("o_orderdate").cast("date"), 7).alias("e"),
        )
        .withColumn(
            "b",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor(F.datediff(F.col("s"), epoch) / 7),
                        # last day inside [s, e) is e-1
                        F.floor(
                            F.datediff(F.date_sub(F.col("e"), 1), epoch)
                            / 7
                        ),
                    )
                )
            ),
        )
    )
    pts = (
        cat.lineitem.where(
            (F.col("l_orderkey") >= 3000) & (F.col("l_orderkey") < 4500)
        )
        .select(F.col("l_shipdate").cast("date").alias("p"))
        .withColumn("b", F.floor(F.datediff(F.col("p"), epoch) / 7))
    )
    joined = iv.join(
        pts,
        (iv["b"] == pts["b"])
        & (pts["p"] >= iv["s"])
        & (pts["p"] < iv["e"]),
        "left",
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(F.count("p").alias("n_ships"))
        .orderBy("o_orderkey")
    )


# value brackets for the range-dimension lookup (lo inclusive, hi
# exclusive; covers the full o_totalprice domain)
_BRACKETS = (
    ("B1_small", 0, 50000),
    ("B2_mid", 50000, 150000),
    ("B3_large", 150000, 300000),
    ("B4_jumbo", 300000, 10**9),
)


def _brackets_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT '{n}' AS bracket, {lo} AS lo, {hi} AS hi"
        for n, lo, hi in _BRACKETS
    )
    return f"""
    WITH dim AS ({rows})
    SELECT dim.bracket, count(o.o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(round(o.o_totalprice * 100)
                AS BIGINT)), 0) AS BIGINT) AS total_cents
    FROM dim LEFT JOIN orders o
      ON o.o_totalprice >= dim.lo AND o.o_totalprice < dim.hi
    GROUP BY dim.bracket ORDER BY dim.bracket
    """


@query("range_dimension_lookup", oracle=_brackets_oracle())
def range_dimension_lookup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Range-dimension lookup: classify every fact row against a
    TINY dimension of [lo, hi) brackets with a non-equi join — the
    tax-bracket / rate-card / SLA-tier pattern. There is no equi
    key, so the correct plan is a BroadcastNestedLoopJoin — usually
    an anti-pattern, but with a 4-row broadcast side it is one scan
    with 4 comparisons per row, strictly better than exploding the
    fact table onto a grid. (The inverse at scale: when the dim
    grows, switch to the grid bucketing of `interval_overlap_join`.)
    LEFT join from the dim keeps empty brackets at zero; money rides
    as exact integer cents."""
    cat = Catalog(spark, sf_dir)
    dim = spark.createDataFrame(
        list(_BRACKETS), "bracket string, lo long, hi long"
    )
    o = cat.orders.select(
        "o_orderkey",
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    joined = F.broadcast(dim).join(
        o,
        (o["o_totalprice"] >= dim["lo"])
        & (o["o_totalprice"] < dim["hi"]),
        "left",
    )
    return (
        joined.groupBy("bracket")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("bracket")
    )


# --------------------------------------------------------------------
# positional ordinals + HAVING without GROUP BY
# --------------------------------------------------------------------

@query(
    "group_ordinal_having",
    oracle=f"""
    WITH per AS (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY 1 HAVING count(*) >= 10),
    tot AS (
      SELECT 'zz_total' AS pri,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents
      FROM orders HAVING count(*) > 0)
    SELECT pri, n, cents FROM per
    UNION ALL SELECT pri, n, cents FROM tot
    ORDER BY 1
    """,
)
def group_ordinal_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional GROUP BY 1 / ORDER BY 1 ordinals (HiveQL's
    hive.groupby.orderby.position.alias surface) plus HAVING attached
    to a global aggregate with NO GROUP BY — the branch that makes
    HAVING a post-aggregation filter rather than sugar for WHERE.
    Both resolved by Catalyst at analysis time: ordinals cost nothing
    at any scale, they rewrite to the named expressions."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView("ord_r9a")
    return spark.sql(
        f"""
        WITH per AS (
          SELECT o_orderpriority AS pri,
                 count(*) AS n,
                 sum({ORDER_CENTS}) AS cents
          FROM ord_r9a GROUP BY 1 HAVING count(*) >= 10),
        tot AS (
          SELECT 'zz_total' AS pri, count(*) AS n,
                 sum({ORDER_CENTS}) AS cents
          FROM ord_r9a HAVING count(*) > 0)
        SELECT pri, n, cents FROM per
        UNION ALL SELECT pri, n, cents FROM tot
        ORDER BY 1
        """
    )


@query(
    "limit_offset_pagination",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25 OFFSET 50
    """,
)
def limit_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (page 3 of a price-ranked report) over a
    deterministic total order — the BI-tool access pattern. At scale
    OFFSET is a full sort of the prefix; keyset pagination (WHERE
    price < last_seen) is the 100 TB alternative, but the surface must
    exist for tool compatibility. Spark 3.4+ supports OFFSET natively."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "page_orders_src"
    )
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM page_orders_src
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25 OFFSET 50
        """
    )


@query(
    "null_ordering",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_orderpriority END AS prio,
           row_number() OVER (ORDER BY
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderpriority END DESC NULLS LAST,
             o_orderkey) AS rn_nl
    FROM orders WHERE o_orderkey < 300
    ORDER BY rn_nl
    """,
)
def null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL ordering: DESC NULLS LAST (overriding Spark's
    DESC default of NULLS FIRST — exactly the default divergence that
    silently reorders reports when porting between engines). The
    row_number pins the full total order, so any NULL-placement
    disagreement breaks parity."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 300)
    prio = F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(
        F.col("o_orderpriority")
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        prio.desc_nulls_last(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderkey",
            prio.alias("prio"),
            F.row_number().over(w).alias("rn_nl"),
        )
        .orderBy("rn_nl")
    )


@query(
    "star_syntax_variants",
    oracle="""
    SELECT n_nationkey, n_name, r_name,
           n_nationkey AS s_key, n_name AS s_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    ORDER BY n_nationkey
    """,
)
def star_syntax_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-expansion syntax matrix: ``* EXCEPT (cols)`` (Spark 4
    projection pruning without naming the keepers), qualified
    ``t.*``, and ``struct.*`` field expansion — three ways a SELECT
    list explodes into columns, all in one query so a parser change
    in any of them breaks parity. Column pruning still reaches the
    scan (the EXCEPT form is resolved at analysis time, not
    runtime)."""
    cat = Catalog(spark, sf_dir)
    cat.nation.createOrReplaceTempView("nation")
    cat.region.createOrReplaceTempView("region")
    return spark.sql(
        """
        WITH joined AS (
          SELECT n.* EXCEPT (n_regionkey), r.r_name,
                 struct(n_nationkey AS s_key, n_name AS s_name) AS s
          FROM nation n JOIN region r ON n_regionkey = r_regionkey)
        SELECT n_nationkey, n_name, r_name, s.*
        FROM joined ORDER BY n_nationkey
        """
    )


@query(
    "values_inline_table",
    oracle="""
    SELECT t.region_label, CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(weight) AS BIGINT) AS weight_sum
    FROM nation
    JOIN (VALUES (0, 'africa', 10), (1, 'america', 20),
                 (2, 'asia', 30), (3, 'europe', 40),
                 (4, 'mideast', 50))
         AS t(rk, region_label, weight)
      ON n_regionkey = t.rk
    GROUP BY t.region_label ORDER BY t.region_label
    """,
)
def values_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM (VALUES ...) inline literal tables — the seed/config
    table idiom (weights, label maps, feature flags) joined against a
    real relation. The literal relation is broadcast by construction;
    identical SQL text runs on both engines."""
    Catalog(spark, sf_dir).nation.createOrReplaceTempView("nation")
    return spark.sql(
        """
        SELECT t.region_label, CAST(count(*) AS BIGINT) AS n_nations,
               CAST(sum(weight) AS BIGINT) AS weight_sum
        FROM nation
        JOIN (VALUES (0, 'africa', 10), (1, 'america', 20),
                     (2, 'asia', 30), (3, 'europe', 40),
                     (4, 'mideast', 50))
             AS t(rk, region_label, weight)
          ON n_regionkey = t.rk
        GROUP BY t.region_label ORDER BY t.region_label
        """
    )


@query(
    "group_order_by_all",
    oracle="""
    SELECT o_orderstatus, year(o_orderdate) AS yr, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (the DuckDB-popularized shorthand
    Spark adopted in 3.4/4.x): non-aggregate select items become the
    grouping key, and the full select list becomes the sort key —
    identical SQL text runs on both engines, which is itself the
    point of the feature (one less place for a migration to
    diverge)."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "gba_orders_src"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, year(o_orderdate) AS yr, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM gba_orders_src
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "lateral_column_alias",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice * 0.07, 2) AS tax,
           round(round(o_totalprice * 0.07, 2) + o_totalprice, 2)
               AS gross,
           round(round(round(o_totalprice * 0.07, 2) + o_totalprice, 2)
                 - round(o_totalprice * 0.07, 2), 2) AS net_check
    FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey
    """,
)
def lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4): a select item referencing
    an alias defined EARLIER IN THE SAME SELECT — the chained-derived-
    column idiom that otherwise forces nested subqueries. The oracle
    expands the chain manually; values must match through every
    intermediate rounding step (proving the alias references the
    rounded result, not a re-derivation)."""
    Catalog(spark, sf_dir).orders.where(
        F.col("o_orderkey") < 2000
    ).createOrReplaceTempView("lca_orders_src")
    return spark.sql(
        """
        SELECT o_orderkey,
               round(o_totalprice * 0.07, 2) AS tax,
               round(tax + o_totalprice, 2) AS gross,
               round(gross - tax, 2) AS net_check
        FROM lca_orders_src ORDER BY o_orderkey
        """
    )


#: WITH TIES fetch size: p_size has ~40 parts at the max size alone,
#: so the tie overshoot past k is guaranteed at every scale — the
#: semantics under test are visible in the row count.
TIES_K = 20

_TIES_ORACLE = f"""
WITH ranked AS (
  SELECT p_partkey, p_size, p_brand,
         rank() OVER (ORDER BY p_size DESC) AS rk
  FROM part)
SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size, p_brand
FROM ranked WHERE rk <= {TIES_K}
ORDER BY p_size DESC, p_partkey
"""


@query("fetch_with_ties_emulation", oracle=_TIES_ORACLE)
def fetch_with_ties_emulation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANSI ``FETCH FIRST {TIES_K} ROWS WITH TIES`` over parts by
    size descending — every row tying the k-th row's sort key is
    kept, so the result legitimately overshoots k (≈40 parts share
    the max size alone). The Spark implementation is the plan that
    survives scale: a {TIES_K}-row TakeOrdered probe computes the
    threshold key (never a global rank window over the whole
    table — that is exactly the partitionless-sort scale-killer the
    repo bans), the threshold is broadcast, and the table is
    re-filtered with a pushable ≥ predicate. The oracle uses the
    textbook rank() formulation; agreement proves the emulation's
    tie semantics exact."""
    p = Catalog(spark, sf_dir).part
    thresh = (
        p.select("p_size")
        .orderBy(F.desc("p_size"))
        .limit(TIES_K)
        .agg(F.min("p_size").alias("cut"))
    )
    return (
        p.crossJoin(F.broadcast(thresh))
        .where(F.col("p_size") >= F.col("cut"))
        .select(
            "p_partkey",
            F.col("p_size").cast("long").alias("p_size"),
            "p_brand",
        )
        .orderBy(F.desc("p_size"), "p_partkey")
    )


# --------------------------------------------------------------------
# QUALIFY emulation
# --------------------------------------------------------------------

@query(
    "qualify_emulation",
    oracle=f"""
    SELECT o_orderpriority AS pri, o_orderkey, {ORDER_CENTS} AS cents
    FROM orders
    QUALIFY row_number() OVER (
      PARTITION BY o_orderpriority
      ORDER BY o_totalprice DESC, o_orderkey) <= 2
    ORDER BY pri, cents DESC, o_orderkey
    """,
)
def qualify_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUALIFY clause (filter on a window function) — DuckDB /
    Snowflake / BigQuery dialect sugar that Spark SQL lacks. The
    emulation is the standard expansion: compute the window in a
    subquery, filter in the outer WHERE; the oracle runs the REAL
    QUALIFY so value parity proves the expansion is semantically the
    clause. Top-2 per group with a total (price desc, key) order —
    the rank never ties across engines."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView("ord_r9q")
    return spark.sql(
        f"""
        SELECT pri, o_orderkey, cents FROM (
          SELECT o_orderpriority AS pri, o_orderkey, {ORDER_CENTS} AS cents,
                 row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM ord_r9q)
        WHERE rn <= 2
        ORDER BY pri, cents DESC, o_orderkey
        """
    )


@query(
    "distinct_set_algebra",
    oracle="""
    WITH flags AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS is_p,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS is_c
      FROM events
      WHERE event_type IN ('purchase', 'click')
      GROUP BY user_id)
    SELECT CAST(sum(is_p) AS BIGINT) AS n_purchase,
           CAST(sum(is_c) AS BIGINT) AS n_click,
           CAST(count(*) AS BIGINT) AS n_union,
           CAST(sum(is_p * is_c) AS BIGINT) AS n_intersect,
           CAST(sum(is_p * (1 - is_c)) AS BIGINT) AS n_purchase_only,
           CAST(sum(is_c * (1 - is_p)) AS BIGINT) AS n_click_only,
           CAST(sum(is_p * is_c) * 1000 // count(*) AS BIGINT)
               AS jaccard_permille
    FROM flags
    """,
)
def distinct_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra — |A|, |B|, |A∪B|, |A∩B|, |A\\B|, |B\\A|
    and integer-permille Jaccard between the purchase and click user
    sets. This is the exact-computation twin of the sketch set-ops
    family (hll_sketch_union / theta sketches in Hive): one shuffle
    keyed on user_id with map-side partial max() flags, then a single
    global fold — the plan that holds at 100 TB because the post-
    shuffle state is one bit per cohort per user. Jaccard is integer
    division (permille), so the output is all-BIGINT exact."""
    ev = Catalog(spark, sf_dir).events
    flags = (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("is_p"),
            F.max(
                (F.col("event_type") == "click").cast("int")
            ).alias("is_c"),
        )
    )
    return flags.agg(
        F.sum("is_p").cast("long").alias("n_purchase"),
        F.sum("is_c").cast("long").alias("n_click"),
        F.count(F.lit(1)).cast("long").alias("n_union"),
        F.sum(F.col("is_p") * F.col("is_c"))
        .cast("long")
        .alias("n_intersect"),
        F.sum(F.col("is_p") * (1 - F.col("is_c")))
        .cast("long")
        .alias("n_purchase_only"),
        F.sum(F.col("is_c") * (1 - F.col("is_p")))
        .cast("long")
        .alias("n_click_only"),
        F.expr("sum(is_p * is_c) * 1000 div count(*)")
        .cast("long")
        .alias("jaccard_permille"),
    )


_TRANSPOSE_ORACLE = f"""
WITH m AS (
  SELECT o_orderstatus AS st,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum({ORDER_CENTS}) AS BIGINT) AS rev_cents,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
  FROM orders GROUP BY 1)
SELECT 'n_orders' AS key,
       (SELECT n_orders FROM m WHERE st = 'F') AS F,
       (SELECT n_orders FROM m WHERE st = 'O') AS O,
       (SELECT n_orders FROM m WHERE st = 'P') AS P
UNION ALL
SELECT 'rev_cents',
       (SELECT rev_cents FROM m WHERE st = 'F'),
       (SELECT rev_cents FROM m WHERE st = 'O'),
       (SELECT rev_cents FROM m WHERE st = 'P')
UNION ALL
SELECT 'n_custs',
       (SELECT n_custs FROM m WHERE st = 'F'),
       (SELECT n_custs FROM m WHERE st = 'O'),
       (SELECT n_custs FROM m WHERE st = 'P')
ORDER BY key
"""


@query("dataframe_transpose", oracle=_TRANSPOSE_ORACLE)
def dataframe_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4.0 ``DataFrame.transpose()`` API: a 3-row
    per-orderstatus measure table (orders / revenue cents / distinct
    customers, all BIGINT so the transposed grid has one common
    type) flipped so each measure becomes a row and each status
    value becomes a column — the BI-export presentation shape.
    Transpose collects the KEY COLUMN VALUES to name the output
    columns (bounded by the status domain, 3 — the kmeans-codebook
    collect class); the measure aggregation itself is one ordinary
    groupBy. Output re-sorted by key for determinism."""
    o = Catalog(spark, sf_dir).orders
    m = o.groupBy(F.col("o_orderstatus").alias("st")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents"),
        F.countDistinct("o_custkey").cast("long").alias("n_custs"),
    )
    return m.transpose().orderBy("key")


@query(
    "join_hint_strategies",
    oracle="""
    SELECT 'broadcast' AS strategy, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey < 500
    UNION ALL
    SELECT 'merge', count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey < 500
    UNION ALL
    SELECT 'shuffle_hash', count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey < 500
    ORDER BY strategy
    """,
)
def join_hint_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-strategy hint surface (BROADCAST / MERGE /
    SHUFFLE_HASH): the SAME join executed under each hint must produce
    identical results — hints steer the physical planner, never the
    semantics. tests/test_plans_r4.py asserts each hint actually
    selects its operator (BroadcastHashJoin / SortMergeJoin /
    ShuffledHashJoin). This is the manual override for the cases AQE
    stats get wrong — the escape hatch every tuning guide reaches for."""
    cat = Catalog(spark, sf_dir)
    o = cat.orders
    c = cat.customer.where(F.col("c_custkey") < 500)

    def joined(hint: str):
        return (
            o.join(c.hint(hint), F.col("o_custkey") == F.col("c_custkey"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )
        )

    return (
        joined("broadcast")
        .select(F.lit("broadcast").alias("strategy"), "n", "key_sum")
        .unionByName(
            joined("merge").select(
                F.lit("merge").alias("strategy"), "n", "key_sum"
            )
        )
        .unionByName(
            joined("shuffle_hash").select(
                F.lit("shuffle_hash").alias("strategy"), "n", "key_sum"
            )
        )
        .orderBy("strategy")
    )


@query(
    "dynamic_partition_pruning",
    oracle="""
    SELECT l.l_linestatus, count(*) AS n,
           round(sum(l.l_extendedprice), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 450000
    GROUP BY l.l_linestatus ORDER BY l.l_linestatus
    """,
)
def dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition pruning: the fact side is PARTITIONED on the
    order's priority attribute, and the dim filter sits on a
    DIFFERENT column (o_totalprice > 450000) — which priorities
    survive is only knowable at run time, so no static partition
    predicate can be derived (a filter ON the partition column itself
    gets constant-propagated into a static PartitionFilter — the
    easier case). DPP injects the dim's surviving priority keys as a
    runtime subquery into the fact scan's partition pruning. THE
    optimization for star joins over date-partitioned 100 TB facts
    (without it, every dim-filtered join is a full fact scan). The
    dynamicpruning expression's presence in the plan is asserted in
    tests; the oracle checks values against the unpartitioned
    join."""
    cat = Catalog(spark, sf_dir)
    from hdsp_hive_release_src_spark.sources.io import scratch_path
    import shutil

    path = scratch_path("dpp_lineitem", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    # stamp each lineitem with its order's priority and partition on it
    li = cat.lineitem.join(
        cat.orders.select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.col("o_orderpriority").alias("prio"),
        ),
        "l_orderkey",
    ).select("l_orderkey", "l_linestatus", "l_extendedprice", "prio")
    li.write.partitionBy("prio").parquet(path)
    spark.catalog.refreshByPath(path)
    fact = spark.read.parquet(path)
    dim = cat.orders.select(
        "o_orderkey", "o_orderpriority"
    ).where(F.col("o_totalprice") > 450000)
    joined = fact.join(
        dim,
        (fact.l_orderkey == dim.o_orderkey)
        & (fact.prio == dim.o_orderpriority),
    )
    return (
        joined.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "cluster_by_clause",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity > 45
    """,
)
def cluster_by_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiveQL ``CLUSTER BY`` — shorthand for DISTRIBUTE BY k SORT BY k
    (same-key co-location + within-partition order, the pre-bucketing
    write layout). The contract is row-SET equality, matching
    ``distribute_sort_by``; tests/test_round7.py additionally asserts
    the layout property itself (each partition sorted by the cluster
    key, no key split across partitions)."""
    cat = Catalog(spark, sf_dir)
    cat.lineitem.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity
        FROM lineitem WHERE l_quantity > 45
        CLUSTER BY l_suppkey
        """
    )


@query(
    "distribute_sort_by",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders WHERE o_totalprice > 100000
    """,
)
def distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiveQL DISTRIBUTE BY / SORT BY: explicit partition-and-order
    layout control (the pre-bucketing write pattern). The contract is
    row-SET equality — per-partition order is a layout property, which
    the order-insensitive compare respects."""
    cat = Catalog(spark, sf_dir)
    cat.orders.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders WHERE o_totalprice > 100000
        DISTRIBUTE BY o_custkey SORT BY o_custkey, o_orderkey
        """
    )


@query(
    "blocked_fuzzy_join",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             split_part(c_name, '#', 2) AS cname
      FROM customer WHERE c_custkey < 2000),
    s AS (
      SELECT s_suppkey, s_nationkey,
             split_part(s_name, '#', 2) AS sname
      FROM supplier)
    SELECT c.c_custkey, s.s_suppkey,
           CAST(levenshtein(c.cname, s.sname) AS INTEGER) AS dist
    FROM c JOIN s
      ON c.c_nationkey = s.s_nationkey
     AND levenshtein(c.cname, s.sname) <= 2
    ORDER BY c.c_custkey, s.s_suppkey
    """,
)
def blocked_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked fuzzy join — entity resolution done the way that
    survives scale: candidates are first BLOCKED on an equi-key
    (nation), and edit distance only scores within blocks — never a
    corpus×corpus comparison (the anti-pattern fuzzy_match's docstring
    warns about, here made concrete). The equi-condition keys the
    shuffle; the levenshtein predicate evaluates post-match, so the
    join stays a hash join, not a cartesian."""
    cat = Catalog(spark, sf_dir)
    c = cat.customer.where(F.col("c_custkey") < 2000).select(
        "c_custkey",
        "c_nationkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias(
            "cname"
        ),
    )
    s = cat.supplier.select(
        "s_suppkey",
        "s_nationkey",
        F.split_part(F.col("s_name"), F.lit("#"), F.lit(2)).alias(
            "sname"
        ),
    )
    dist = F.levenshtein("cname", "sname")
    return (
        c.join(
            s,
            (F.col("c_nationkey") == F.col("s_nationkey"))
            & (dist <= 2),
        )
        .select(
            "c_custkey",
            "s_suppkey",
            dist.cast("int").alias("dist"),
        )
        .orderBy("c_custkey", "s_suppkey")
    )


# --------------------------------------------------------------------
# REBALANCE hint surface
# --------------------------------------------------------------------

@query(
    "rebalance_hint_partitioning",
    oracle=f"""
    SELECT o_orderpriority AS pri,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents
    FROM orders GROUP BY pri ORDER BY pri
    """,
)
def rebalance_hint_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REBALANCE hint — AQE's skew-spreading repartition used
    before writes so one hot partition can't produce one giant output
    file (unlike REPARTITION(n) it lets AQE split oversized
    partitions at runtime). Hints must never change results: the
    oracle aggregates the unhinted table, and the plan-level
    RebalancePartitions node is asserted in tests/test_round9d.py."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView("ord_r9h")
    return spark.sql(
        f"""
        SELECT /*+ REBALANCE(pri) */
               o_orderpriority AS pri,
               count(*) AS n,
               sum({ORDER_CENTS}) AS cents
        FROM ord_r9h GROUP BY pri ORDER BY pri
        """
    )


# --------------------------------------------------------------------
# interval union coverage (sweep line)
# --------------------------------------------------------------------

_COVER_ORACLE = """
WITH spans AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS s,
         epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e
  FROM events),
swept AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS prev_max
  FROM spans),
segs AS (
  SELECT user_id,
         CASE WHEN prev_max IS NULL OR prev_max < s
              THEN e - s
              WHEN e > prev_max THEN e - prev_max
              ELSE 0 END AS covered_us,
         CASE WHEN prev_max IS NULL OR prev_max < s
              THEN 1 ELSE 0 END AS new_island
  FROM swept)
SELECT user_id,
       CAST(sum(covered_us) AS BIGINT) AS covered_us,
       CAST(sum(new_island) AS BIGINT) AS n_islands
FROM segs GROUP BY user_id ORDER BY user_id
"""


@query("interval_union_coverage", oracle=_COVER_ORACLE)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union length of overlapping intervals per user (each event
    opens a 10-minute activity span): the sweep-line formulation —
    sort by start, running max of ends, count only the part of each
    span past the previous maximum. O(n log n) in the user
    partition; the interval PAIR join (interval_overlap_join's
    shape) would be quadratic in the overlap degree and is the
    wrong tool for coverage. Island count falls out of the same
    sweep for free. Exact integer microseconds."""
    e = Catalog(spark, sf_dir).events
    spans = e.select(
        "user_id",
        F.expr("unix_micros(ts)").alias("s"),
        F.expr("unix_micros(ts) + 600000000").alias("e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = spans.select(
        "user_id", "s", "e", F.max("e").over(w).alias("prev_max")
    )
    segs = swept.select(
        "user_id",
        F.expr(
            "CASE WHEN prev_max IS NULL OR prev_max < s THEN e - s"
            " WHEN e > prev_max THEN e - prev_max ELSE 0 END"
        ).alias("covered_us"),
        F.expr(
            "CASE WHEN prev_max IS NULL OR prev_max < s"
            " THEN 1 ELSE 0 END"
        ).alias("new_island"),
    )
    return (
        segs.groupBy("user_id")
        .agg(
            F.sum("covered_us").cast("long").alias("covered_us"),
            F.sum("new_island").cast("long").alias("n_islands"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------
# 2-D skyline (Pareto front)
# --------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH pts AS (
  SELECT p_brand, CAST(p_size AS BIGINT) AS size,
         CAST(round(min(p_retailprice) * 100) AS BIGINT) AS cents
  FROM part GROUP BY p_brand, p_size),
runmin AS (
  SELECT p_brand, size, cents,
         min(cents) OVER (PARTITION BY p_brand ORDER BY size
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_min
  FROM pts)
SELECT p_brand, size, cents
FROM runmin
WHERE prev_min IS NULL OR cents < prev_min
ORDER BY p_brand, size
"""


@query("skyline_pareto_front", oracle=_SKYLINE_ORACLE)
def skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE / Pareto-front operator (minimize size AND price, per
    brand): a point survives iff nothing else is ≤ on both axes with
    one strict. In 2-D the quadratic dominance join collapses to
    sort + running-min — keep the cheapest point per size, then keep
    sizes whose price beats every smaller size's minimum (a window
    over the per-(brand,size) rollup). O(n log n) with no pair join:
    THE scale formulation; the naive anti-join is rows² and dies at
    100 TB. Exact integer cents, deterministic everywhere."""
    p = Catalog(spark, sf_dir).part
    pts = p.groupBy(
        "p_brand", F.col("p_size").cast("long").alias("size")
    ).agg(
        F.expr(
            "CAST(round(min(p_retailprice) * 100) AS BIGINT)"
        ).alias("cents")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("size")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runmin = pts.select(
        "p_brand", "size", "cents", F.min("cents").over(w).alias("pm")
    )
    return (
        runmin.where(F.col("pm").isNull() | (F.col("cents") < F.col("pm")))
        .select("p_brand", "size", "cents")
        .orderBy("p_brand", "size")
    )


# --------------------------------------------------------------------
# token-budget greedy selection
# --------------------------------------------------------------------

_BUDGET_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), x -> x <> ''))
             AS toks,
         len(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> '')))
           * 1000
           // len(list_filter(string_split(text, ' '), x -> x <> ''))
             AS score
  FROM documents),
tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t FROM scored),
ranked AS (
  SELECT doc_id, lang, toks, score,
         sum(toks) OVER (ORDER BY score DESC, doc_id) AS cum
  FROM scored),
sel AS (
  SELECT lang, toks, score
  FROM ranked, tot WHERE cum * 2 <= tot.t)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_selected,
       CAST(sum(toks) AS BIGINT) AS tokens_selected,
       CAST(min(score) AS BIGINT) AS min_score_admitted
FROM sel GROUP BY lang ORDER BY lang
"""


@query("budget_greedy_selection", oracle=_BUDGET_ORACLE)
def budget_greedy_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data selection under a token budget (half the corpus):
    rank documents by a quality score (distinct-token ratio in exact
    permille), admit greedily while the cumulative token count stays
    within budget — the knapsack-greedy every mixture pipeline runs
    before training. The admission predicate is exact integer
    (cum·2 ≤ total: never a float budget fraction), the ranking
    totally ordered by (score, doc_id), and the cumulative sum one
    window over per-document rollups."""
    d = Catalog(spark, sf_dir).documents
    toks = F.expr("filter(split(text, ' '), x -> x != '')")
    scored = d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("toks"),
        (
            F.size(F.array_distinct(toks)).cast("long") * 1000
        ).alias("_num"),
    ).withColumn(
        "score", F.expr("_num div toks")
    )
    tot = scored.agg(F.sum("toks").cast("long").alias("t"))
    ranked = scored.select(
        "doc_id",
        "lang",
        "toks",
        "score",
        F.sum("toks")
        .over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        )
        .alias("cum"),
    )
    sel = ranked.crossJoin(F.broadcast(tot)).where(
        F.col("cum") * 2 <= F.col("t")
    )
    return (
        sel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum("toks").cast("long").alias("tokens_selected"),
            F.min("score").cast("long").alias("min_score_admitted"),
        )
        .orderBy("lang")
    )

"""Relational domain: the 22 TPC-H queries.

Dimension tables are broadcast (no shuffle for the small side); the
fact tables are scanned once per query wherever the plan allows.
Every query carries its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.registry import query


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: single scan → partial agg map-side → 1 shuffle on a
    6-value grouping key. The canonical whole-stage-codegen pipeline."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(_rev()), 2).alias("sum_disc_price"),
            F.round(
                F.sum(_rev() * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    flt AS (SELECT p_partkey, p_brand FROM part
            WHERE p_size < 10 AND p_type = 'PROMO'),
    ranked AS (
      SELECT p_partkey, p_brand, l_suppkey, unit_cost,
             row_number() OVER (PARTITION BY l_partkey
                 ORDER BY unit_cost, l_suppkey) AS rn
      FROM cost JOIN flt ON p_partkey = l_partkey)
    SELECT p_partkey, p_brand, unit_cost AS best_cost,
           s_suppkey, s_name
    FROM ranked JOIN supplier ON s_suppkey = l_suppkey
    WHERE rn = 1 ORDER BY p_partkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (partsupp-less: lineitem is the part↔supplier
    link): cheapest supplier per filtered part by observed unit cost.
    Correlated-min subquery → one agg + one window rank; part filter
    is applied BEFORE the rank so only qualifying parts shuffle.
    best_cost is emitted unrounded: both engines derive the identical
    double (same division, same min), while an explicit round(4) can
    split on representation (x.41175 stored below the .5 boundary
    rounds differently under decimal-string vs scaled-double rounding
    — seen at sf0.1); the comparator's round-to-6 handles parity."""
    cat = Catalog(spark, sf_dir)
    flt = cat.part.where(
        (F.col("p_size") < 10) & (F.col("p_type") == "PROMO")
    ).select("p_partkey", "p_brand")
    cost = (
        cat.lineitem.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    return (
        cost.join(flt, F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .join(
            F.broadcast(cat.supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select(
            "p_partkey",
            "p_brand",
            F.col("unit_cost").alias("best_cost"),
            "s_suppkey",
            "s_name",
        )
        .orderBy("p_partkey")
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01'
      AND l_shipdate  > TIMESTAMP '1997-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (schema has no o_shippriority). lineitem⋈orders shuffles
    once on orderkey. customer is NOT hinted: at 100 TB it is billions
    of rows, so a forced broadcast would OOM the executors — AQE picks
    broadcast-vs-shuffle from the post-filter size at runtime."""
    cat = Catalog(spark, sf_dir)
    cust = cat.customer.where(F.col("c_mktsegment") == "BUILDING")
    orders = cat.orders.where(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    )
    li = cat.lineitem.where(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (no commit/receipt dates → 'late shipment' =
    shipped >60d after order date). EXISTS → left-semi join, which
    Spark executes without materializing the right side per row."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = cat.lineitem.select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way star join. supplier/nation/region broadcast; the
    only shuffle is lineitem⋈orders on orderkey + the final 5-row
    aggregation. customer is unhinted (billions of rows at 100 TB) —
    AQE decides broadcast-vs-shuffle from runtime stats."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    asia_nations = (
        cat.nation.join(
            F.broadcast(cat.region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    supp = cat.supplier.join(
        F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = cat.lineitem
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            cat.customer,
            (orders.o_custkey == F.col("c_custkey"))
            & (supp.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "q6_revenue_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan+filter+agg; all four predicates push down to
    the parquet reader (asserted in tests/test_plans.py)."""
    li = Catalog(spark, sf_dir).lineitem
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: two-nation trade volume by year. The nation pair filter
    is applied inside broadcast dims, so the fact scan only shuffles
    for the orderkey join."""
    cat = Catalog(spark, sf_dir)
    sn = cat.nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = cat.nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = cat.lineitem.where(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    df = (
        li.join(cat.orders, li.l_orderkey == F.col("o_orderkey"))
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cat.supplier), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        df.withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             sn.n_name AS nation
      FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                            AND TIMESTAMP '1997-12-31'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share via conditional aggregation over
    an 8-table star join. region/nation/supplier broadcast; customer
    and part are unhinted (both are fact-scale at 100 TB) — AQE picks
    the join strategy from post-filter runtime sizes."""
    cat = Catalog(spark, sf_dir)
    part = cat.part.where(F.col("p_type") == "ECONOMY").select("p_partkey")
    sn = cat.nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    eur_nk = (
        cat.nation.join(
            F.broadcast(cat.region.where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cn_nk"))
    )
    cust = cat.customer.join(
        F.broadcast(eur_nk), F.col("c_nationkey") == F.col("cn_nk")
    ).select("c_custkey")
    orders = cat.orders.where(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    li = cat.lineitem
    df = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cat.supplier), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _rev().alias("volume"),
            "nation",
        )
    )
    return (
        df.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(
                        0.0
                    )
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
           CAST(round(sum(
               CAST(l_extendedprice AS DECIMAL(18, 4))
                 * CAST(1 - l_discount AS DECIMAL(18, 4))
               - CAST(0.6 * p_retailprice AS DECIMAL(18, 4))
                 * CAST(l_quantity AS DECIMAL(18, 4))
           ), 2) AS DOUBLE) AS sum_profit
    FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (no partsupp → supply cost modeled as 60% of
    retail price). LIKE filter prunes part before the join; part is
    unhinted (fact-scale at 100 TB) so AQE sizes the join at runtime.
    Profit accumulates in DECIMAL: double sums differ across engines in
    accumulation order and can straddle a cent rounding boundary at
    larger SFs (seen at sf0.1) — decimal addition is exact. r16: the
    cent-round itself must ALSO happen on the exact decimal, before
    any double cast — at replica scale (sf≈1) one group's exact sum
    landed on .8250, where round(double) diverges across engines
    (Spark's BigDecimal.valueOf sees the shortest repr '….825' and
    rounds up; DuckDB's multiply-shift sees the binary value a hair
    below the half and rounds down). Decimal HALF_UP matches DuckDB's
    exact half-away-from-zero decimal round, so both engines now cast
    the SAME rounded decimal to double."""
    cat = Catalog(spark, sf_dir)
    part = cat.part.where(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    li = cat.lineitem
    profit = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (1 - F.col("l_discount")).cast("decimal(18,4)")
        - (0.6 * F.col("p_retailprice")).cast("decimal(18,4)")
        * F.col("l_quantity").cast("decimal(18,4)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(cat.supplier), li.l_suppkey == F.col("s_suppkey"))
        .join(
            F.broadcast(cat.nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .select(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
            profit.alias("profit"),
        )
        .groupBy("nation", "o_year")
        .agg(
            F.round(F.sum("profit"), 2).cast("double").alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(c_acctbal, 2) AS c_acctbal, n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: lost-revenue ranking of customers who returned items."""
    cat = Catalog(spark, sf_dir)
    orders = cat.orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = cat.lineitem.where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cat.customer, orders.o_custkey == F.col("c_custkey"))
        .join(
            F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q11_important_parts",
    oracle="""
    SELECT l_partkey,
           round(sum(l_extendedprice * l_quantity), 2) AS part_value
    FROM lineitem GROUP BY l_partkey
    HAVING sum(l_extendedprice * l_quantity) >
      (SELECT sum(l_extendedprice * l_quantity) * 0.0006 FROM lineitem)
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose total traded value exceeds a
    fraction (0.06%) of the global total.

    Single-scan form (r12 scan-count audit): the global total is the
    sum of the per-part sums, so one lineitem groupBy serves both the
    threshold and the output. Spark has no plan-level sharing for the
    two consumers (exchange reuse does not fire across the scalar-agg
    branch — measured), so the parts-sized aggregate is eagerly
    localCheckpoint-ed (a REDUCED table — operators/materialize.py
    discipline). At 100 TB this trades the second full lineitem scan
    (~100 TB of IO) for a parts-sized (~SF x 200k rows) local
    materialization.

    r13 advice fix: the threshold is a 1-row broadcast joined back to
    the same checkpoint — no driver collect, the comparison never
    leaves the engine. FP boundary note: the global total is the sum
    of per-part DOUBLE sums, while the oracle sums all products in
    one pass; a part whose value lands exactly ON the 0.06% boundary
    could differ in the last ulp between the two summation orders.
    The strict > against a measure-zero boundary makes this benign at
    every tested scale; at new scales re-gate before trusting the
    boundary row."""
    li = Catalog(spark, sf_dir).lineitem
    val = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(val).alias("v"))
        .localCheckpoint()
    )
    threshold = per_part.agg(
        (F.sum("v") * 0.0006).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .where(F.col("v") > F.col("threshold"))
        .select("l_partkey", F.round("v", 2).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@query(
    "q12_priority_shipping",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
           CAST(sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 45 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS ontime_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (no shipmode → late/on-time split by order
    priority, 45-day SLA)."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
    return (
        cat.orders.join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).alias("late_count"),
            F.sum(F.when(~late, 1).otherwise(0)).alias("ontime_count"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: two-level aggregation over a filtered left outer join
    (join predicate, not WHERE — preserves customers with no orders)."""
    cat = Catalog(spark, sf_dir)
    cust = cat.customer.select("c_custkey")
    orders = cat.orders.where(F.col("o_orderpriority") != "5-LOW").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q14_promo_effect",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share in one month. part is unhinted
    (fact-scale at 100 TB) — AQE picks the join strategy."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(0.0)
    return (
        li.join(cat.part, li.l_partkey == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(_rev()), 4).alias(
                "promo_revenue"
            )
        )
    )


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, round(total_rev, 2) AS total_rev
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier by quarterly revenue (view + scalar-max
    subquery; the revenue agg is computed once and reused)."""
    cat = Catalog(spark, sf_dir)
    revenue = (
        cat.lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev()).alias("total_rev"))
    )
    max_rev = revenue.agg(F.max("total_rev").alias("m"))
    return (
        revenue.join(F.broadcast(max_rev))
        .where(F.col("total_rev") == F.col("m"))
        .join(
            F.broadcast(cat.supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select(
            "s_suppkey", "s_name", F.round("total_rev", 2).alias("total_rev")
        )
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37)
      AND l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    with a NOT IN supplier exclusion → broadcast anti join (no null
    keys in this schema, so anti ≡ NOT IN)."""
    cat = Catalog(spark, sf_dir)
    part = cat.part.where(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excluded = cat.supplier.where(F.col("s_name").like("%7%")).select(
        "s_suppkey"
    )
    return (
        cat.lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(excluded),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated avg subquery → pre-aggregated per-part avg
    joined back (one extra shuffle on partkey instead of a per-row
    subquery — the only plan that works at scale)."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    part = cat.part.where(F.col("p_brand") == "Brand#5").select("p_partkey")
    avg_qty = li.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty.withColumnRenamed("l_partkey", "ap_k"),
              li.l_partkey == F.col("ap_k"))
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
        )
    )


@query(
    "q18_large_volume_customer",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18, single-pass form. The textbook plan (HAVING subquery
    → aggregate + semi-join + re-aggregate) scans lineitem TWICE and
    never actually shares the orderkey exchange under AQE (measured
    r11: two parquet scans + LeftSemi in the executed plan). But Q18's
    output sum_qty is grouped by exactly the order's key columns, so
    it EQUALS the per-order quantity the HAVING clause filters on —
    one groupBy(l_orderkey) serves both roles. One lineitem scan, one
    shuffle, then the >250 survivors (a vanishing fraction of orders
    at any scale) join orders/customer; AQE sizes those joins at
    runtime. tests/test_r11_plan_shapes.py asserts the single-scan,
    semi-join-free shape."""
    cat = Catalog(spark, sf_dir)
    qty = (
        cat.lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 250)
    )
    return (
        qty.join(cat.orders, qty.l_orderkey == F.col("o_orderkey"))
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sq", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "q19_discount_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive mixed-table predicates — Catalyst splits
    the single-table conjuncts out of the OR and pushes them below the
    join."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    j = li.join(cat.part, F.col("p_partkey") == li.l_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.where(cond).agg(F.round(F.sum(_rev()), 2).alias("revenue"))


@query(
    "q20_promo_shippers",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 400)
    ORDER BY s_suppkey
    """,
)
def q20_promo_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved significant PROMO volume in
    a year (IN-subquery with HAVING → aggregate + semi join)."""
    cat = Catalog(spark, sf_dir)
    promo = cat.part.where(F.col("p_type") == "PROMO").select("p_partkey")
    heavy = (
        cat.lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(promo, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 400)
        .select("l_suppkey")
    )
    return (
        cat.supplier.join(
            heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q21_sole_late_supplier",
    oracle="""
    WITH multi AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) > 1),
    late AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY),
    sole AS (
      SELECT lt.l_orderkey, lt.l_suppkey
      FROM late lt JOIN multi USING (l_orderkey)
      WHERE NOT EXISTS (
        SELECT 1 FROM late lt2
        WHERE lt2.l_orderkey = lt.l_orderkey
          AND lt2.l_suppkey <> lt.l_suppkey))
    SELECT s_name, count(*) AS numwait
    FROM sole JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (late = shipped >60d after order): suppliers who
    were the ONLY late shipper on multi-supplier orders.

    Single-scan form (r12 scan-count audit; previously two lineitem
    scans — one for the multi-supplier filter, one for the late
    pairs): join lineitem to orders once, dedup to (order, supplier,
    ever_late) pairs with a partial-combining two-level aggregate,
    then derive per order in one pass the distinct-supplier count, the
    distinct-late-supplier count, and the sole late supplier key.
    ns > 1 AND n_late == 1 is exactly the EXISTS / NOT-EXISTS pair.
    Shuffles: lineitem once by (orderkey, suppkey) with map-side
    combine, then the ~4x-smaller pair set by orderkey."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    joined = li.join(
        cat.orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("is_late"),
    )
    pairs = joined.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("late")
    )
    sole = (
        pairs.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("ns"),
            F.sum(F.col("late").cast("int")).alias("n_late"),
            F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias(
                "the_suppkey"
            ),
        )
        .where((F.col("ns") > 1) & (F.col("n_late") == 1))
    )
    return (
        sole.join(
            F.broadcast(cat.supplier),
            F.col("the_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query(
    "q22_global_sales",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS cntry, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY cntry
    ORDER BY cntry
    """,
)
def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (no phone → country = nationkey; "inactive" =
    no order since 1999): scalar subquery threshold + anti-join."""
    cat = Catalog(spark, sf_dir)
    cust = cat.customer
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    rich = cust.join(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("a")
    )
    recent = cat.orders.where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    no_orders = rich.join(
        recent, rich.c_custkey == F.col("o_custkey"), "left_anti"
    )
    return (
        no_orders.groupBy(F.col("c_nationkey").cast("long").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntry")
    )

"""IO and catalog domain: DDL, catalog and engine introspection.

SHOW/DESCRIBE/ALTER/ANALYZE, CTAS, partitions and MSCK repair, table
properties, comments and defaults, temp views, EXPLAIN, caching,
sampling, Z-ordering, session variables, parameters and SQL scripting.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import ORDER_CENTS, Catalog
from hdsp_hive_release_src_spark.registry import query
from hdsp_hive_release_src_spark.sources.io import fresh_managed_table


# (name, definition stored in + read back from TBLPROPERTIES,
#  rely flag, SQL predicate that must hold for every row)
_CONSTRAINTS = (
    (
        "ck_totalprice",
        "CHECK (o_totalprice > 0)",
        False,
        "o_totalprice > 0",
    ),
    (
        "nn_custkey",
        "NOT NULL (o_custkey)",
        True,
        "o_custkey IS NOT NULL",
    ),
    (
        "pk_orderkey",
        "PRIMARY KEY (o_orderkey)",
        True,
        None,  # uniqueness checked as an aggregate, not per-row
    ),
)


def _constraints_oracle() -> str:
    rows = []
    for name, definition, rely, pred in _CONSTRAINTS:
        if pred is None:
            sat = (
                "(SELECT count(DISTINCT o_orderkey) = count(*) "
                "FROM orders WHERE o_orderkey < 5000)"
            )
        else:
            sat = (
                f"(SELECT count(*) FROM orders "
                f"WHERE o_orderkey < 5000 AND NOT ({pred})) = 0"
            )
        rows.append(
            f"SELECT '{name}' AS constraint_name, "
            f"'{definition}' AS definition, "
            f"{'TRUE' if rely else 'FALSE'} AS rely, {sat} AS satisfied"
        )
    return " UNION ALL ".join(rows) + " ORDER BY constraint_name"


@query("informational_constraints_ddl", oracle=_constraints_oracle())
def informational_constraints_ddl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hive informational constraints (PRIMARY KEY / NOT NULL / CHECK
    with RELY/NORELY): declared as table metadata on a managed table,
    read back FROM THE CATALOG (SHOW TBLPROPERTIES — a definition that
    failed to persist breaks parity), each paired with a ``satisfied``
    boolean computed from the live rows. RELY semantics are exactly
    this split: the engine does not enforce on write; it trusts the
    declaration for optimization, and auditing = re-deriving
    ``satisfied`` like this query does. Scale shape: metadata ops are
    O(1); validation is one aggregation per constraint over one scan
    (count distinct / null count / predicate violations), all partial-
    aggregated."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 5000)
    fresh_managed_table(spark, "ic_orders")
    o.select("o_orderkey", "o_custkey", "o_totalprice").write.saveAsTable(
        "ic_orders"
    )
    props = ", ".join(
        f"'constraint.{name}' = '{definition}|"
        f"{'RELY' if rely else 'NORELY'}'"
        for name, definition, rely, _ in _CONSTRAINTS
    )
    spark.sql(f"ALTER TABLE ic_orders SET TBLPROPERTIES ({props})")
    back = {
        r.key.removeprefix("constraint."): r.value
        for r in spark.sql("SHOW TBLPROPERTIES ic_orders").collect()
        if r.key.startswith("constraint.")
    }
    t = spark.table("ic_orders")
    checks = []
    for name, _, _, pred in _CONSTRAINTS:
        if pred is None:
            col = (
                F.countDistinct("o_orderkey") == F.count(F.lit(1))
            ).alias(name)
        else:
            col = (
                F.sum(
                    F.when(~F.expr(pred), F.lit(1)).otherwise(F.lit(0))
                )
                == 0
            ).alias(name)
        checks.append(col)
    sat = t.agg(*checks).collect()[0]
    out = sorted(
        (
            name,
            back[name].split("|")[0],
            back[name].split("|")[1] == "RELY",
            bool(sat[name]),
        )
        for name, _, _, _ in _CONSTRAINTS
    )
    return spark.createDataFrame(
        out,
        "constraint_name string, definition string, "
        "rely boolean, satisfied boolean",
    )


@query(
    "show_create_table",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT),
       'CREATE TABLE spark_catalog.default.sct_nation ('),
      (1, 'n_nationkey INT,'),
      (2, 'n_name STRING,'),
      (3, 'n_regionkey INT)'),
      (4, 'USING parquet')) t(line_id, line)
    ORDER BY line_id
    """,
)
def show_create_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW CREATE TABLE: the catalog must reproduce a complete,
    re-runnable DDL statement for a managed table — schema, order of
    columns, and storage provider. The oracle pins the exact
    (trimmed) statement lines, so a type mapping drift, a dropped
    column, or a provider change breaks parity. Metadata-only at any
    scale."""
    n = Catalog(spark, sf_dir).nation
    fresh_managed_table(spark, "sct_nation")
    n.write.saveAsTable("sct_nation")
    stmt = spark.sql("SHOW CREATE TABLE sct_nation").collect()[0][0]
    lines = [ln.strip() for ln in stmt.splitlines() if ln.strip()]
    return spark.createDataFrame(
        list(enumerate(lines)), "line_id long, line string"
    )


@query(
    "describe_formatted",
    oracle="""
    SELECT * FROM (VALUES
      ('column', 'c_acctbal', 'double'),
      ('column', 'c_custkey', 'bigint'),
      ('column', 'c_mktsegment', 'string'),
      ('info', 'Database', 'default'),
      ('info', 'Provider', 'parquet'),
      ('info', 'Table', 'dfm_customer'),
      ('info', 'Type', 'MANAGED')) t(section, key, value)
    ORDER BY section, key
    """,
)
def describe_formatted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE FORMATTED: the full catalog card — data columns plus
    the detailed-info block (database, table, managed-vs-external,
    provider). Volatile rows (timestamps, locations, engine version)
    are excluded; the deterministic inventory is pinned by the
    oracle. This is the surface every catalog UI and lineage crawler
    scrapes."""
    c = Catalog(spark, sf_dir).customer
    fresh_managed_table(spark, "dfm_customer")
    c.select("c_custkey", "c_mktsegment", "c_acctbal").write.saveAsTable(
        "dfm_customer"
    )
    rows = spark.sql("DESCRIBE FORMATTED dfm_customer").collect()
    out = []
    in_info = False
    keep = {"Database", "Table", "Type", "Provider"}
    for r in rows:
        if r.col_name.startswith("# Detailed Table"):
            in_info = True
            continue
        if not r.col_name:
            continue
        if in_info:
            if r.col_name in keep:
                out.append(("info", r.col_name, r.data_type))
        else:
            out.append(("column", r.col_name, r.data_type))
    return spark.createDataFrame(
        sorted(out), "section string, key string, value string"
    )


@query(
    "ctas_catalog",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(avg(o_totalprice), 2) AS avg_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ctas_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS into the session catalog (managed parquet table) then
    query-back — the Hive metastore create/read workflow. The managed
    location is cleared first: after a metastore reset DROP TABLE
    alone leaves the directory behind and CTAS refuses to overwrite."""
    cat = Catalog(spark, sf_dir)
    table = "ctas_orders_f"
    fresh_managed_table(spark, f"{table}")
    (
        cat.orders.where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite")
        .saveAsTable(table)
    )
    return (
        spark.table(table)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "analyze_table_stats",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS stats_rows,
           CAST(count(*) AS BIGINT) AS exact_rows
    FROM lineitem
    """,
)
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE COMPUTE STATISTICS — the stats the cost-based
    optimizer's join reordering and broadcast decisions read. The
    catalog's recorded rowCount must equal the exact count (the oracle
    runs the count directly); at 100 TB you ANALYZE incrementally per
    partition, and stale stats are how plans go wrong — this check is
    the freshness audit."""

    li = Catalog(spark, sf_dir).lineitem
    fresh_managed_table(spark, "stats_lineitem")
    li.select("l_orderkey", "l_quantity").write.saveAsTable(
        "stats_lineitem"
    )
    spark.sql("ANALYZE TABLE stats_lineitem COMPUTE STATISTICS")
    import re

    stats = (
        spark.sql("DESCRIBE EXTENDED stats_lineitem")
        .where(F.col("col_name") == "Statistics")
        .select("data_type")
        .collect()
    )
    n_stats = int(re.search(r"(\d+) rows", stats[0][0]).group(1))
    exact = spark.table("stats_lineitem").count()
    return spark.createDataFrame(
        [(n_stats, exact)], "stats_rows long, exact_rows long"
    )


@query(
    "analyze_column_stats",
    oracle="""
    SELECT 'o_orderpriority' AS col_name,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS ndv,
           CAST(sum(CASE WHEN o_orderpriority IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(NULL AS DOUBLE) AS min_val,
           CAST(NULL AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(NULL AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT),
           round(min(o_totalprice), 2),
           round(max(o_totalprice), 2)
    FROM orders
    ORDER BY col_name
    """,
)
def analyze_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS — the
    column-level NDV/null-count/min/max the cost-based optimizer's
    join reordering actually keys on (table-level rowCount alone —
    analyze_table_stats — can't order a join tree). Stats are read
    back through DESCRIBE EXTENDED <table> <col> and compared against
    exact aggregation: NDV uses HLL++, which is exact in its sparse
    regime (ndv=5 here), and min/max/null-count are exact at any
    scale, so the oracle parity is deterministic. At 100 TB: ANALYZE
    is one full scan with mergeable sketches per column — run it
    incrementally per partition and only for the columns the
    workload's join/filter keys need."""

    o = Catalog(spark, sf_dir).orders
    fresh_managed_table(spark, "colstats_orders")
    o.select("o_orderpriority", "o_totalprice").write.saveAsTable(
        "colstats_orders"
    )
    spark.sql(
        "ANALYZE TABLE colstats_orders COMPUTE STATISTICS "
        "FOR COLUMNS o_orderpriority, o_totalprice"
    )

    def col_stats(col: str) -> dict[str, str]:
        rows = spark.sql(
            f"DESCRIBE EXTENDED colstats_orders {col}"
        ).collect()
        return {r.info_name: r.info_value for r in rows}

    prio = col_stats("o_orderpriority")
    price = col_stats("o_totalprice")
    out = [
        (
            "o_orderpriority",
            int(prio["distinct_count"]),
            int(prio["num_nulls"]),
            None,
            None,
        ),
        (
            "o_totalprice",
            None,
            int(price["num_nulls"]),
            round(float(price["min"]), 2),
            round(float(price["max"]), 2),
        ),
    ]
    return spark.createDataFrame(
        out,
        "col_name string, ndv long, n_nulls long, "
        "min_val double, max_val double",
    ).orderBy("col_name")


@query(
    "cache_table_reuse",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def cache_table_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHE TABLE — the SQL-surface materialization Hive users reach
    for between reuse-heavy stages. The cached relation serves the
    query (InMemoryRelation asserted in tests) and UNCACHE releases it
    deterministically. At 100 TB you cache AGGREGATED intermediates,
    never raw fact tables — this caches the post-aggregation view
    shape a dashboard fan-out would reuse."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "cache_orders_src"
    )
    spark.sql("UNCACHE TABLE IF EXISTS cache_orders_agg")
    # UNCACHE releases storage but keeps the temp view registered —
    # drop it too or a second run in the same session fails
    spark.sql("DROP VIEW IF EXISTS cache_orders_agg")
    spark.sql(
        """
        CACHE TABLE cache_orders_agg AS
        SELECT o_orderstatus, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM cache_orders_src GROUP BY o_orderstatus
        """
    )
    return spark.table("cache_orders_agg").orderBy("o_orderstatus")


@query(
    "show_partitions",
    oracle="""
    SELECT DISTINCT 'l_returnflag=' || l_returnflag AS "partition"
    FROM lineitem ORDER BY 1
    """,
)
def show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive metadata surface: SHOW PARTITIONS on a partitioned catalog
    table. The oracle derives the same partition list from the data, so
    the check proves the catalog's partition discovery matches reality.
    """

    li = Catalog(spark, sf_dir).lineitem
    fresh_managed_table(spark, "sp_lineitem")
    (
        li.select("l_orderkey", "l_extendedprice", "l_returnflag")
        .write.partitionBy("l_returnflag")
        .saveAsTable("sp_lineitem")
    )
    return spark.sql("SHOW PARTITIONS sp_lineitem").orderBy("partition")


@query(
    "msck_repair_discovery",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def msck_repair_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive partition-discovery ops surface: an EXTERNAL table is
    declared over an already-populated partitioned directory (written
    out-of-band, as a backfill job would), its partitions registered
    with MSCK REPAIR TABLE, and the repaired table queried across all
    partitions. Value parity vs the original table proves discovery
    found every partition — the `MSCK REPAIR` + external-location flow
    is how 100 TB Hive warehouses onboard data written by other
    engines."""
    from hdsp_hive_release_src_spark.sources.io import write_partitioned

    li = Catalog(spark, sf_dir).lineitem
    path = write_partitioned(li, "l_returnflag", "msck_lineitem", sf_dir)
    spark.sql("DROP TABLE IF EXISTS msck_lineitem")
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in li.schema.fields
        if f.name != "l_returnflag"
    )
    spark.sql(
        f"CREATE TABLE msck_lineitem ({cols}) USING parquet"
        f" PARTITIONED BY (l_returnflag STRING) LOCATION '{path}'"
    )
    spark.sql("MSCK REPAIR TABLE msck_lineitem")
    return (
        spark.table("msck_lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "describe_table",
    oracle="""
    SELECT * FROM (VALUES
      ('l_orderkey', 'bigint'), ('l_partkey', 'bigint'),
      ('l_suppkey', 'bigint'), ('l_linenumber', 'int'),
      ('l_quantity', 'double'), ('l_extendedprice', 'double'),
      ('l_discount', 'double'), ('l_tax', 'double'),
      ('l_returnflag', 'string'), ('l_linestatus', 'string'),
      ('l_shipdate', 'timestamp')) t(col_name, data_type)
    ORDER BY col_name
    """,
)
def describe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive metadata surface: DESCRIBE. The oracle pins the expected
    column/type inventory, so the check proves the catalog reports the
    true parquet schema (the contract every downstream tool reads)."""
    Catalog(spark, sf_dir).lineitem.createOrReplaceTempView(
        "desc_lineitem_src"
    )
    return (
        spark.sql("DESCRIBE TABLE desc_lineitem_src")
        .select("col_name", "data_type")
        .orderBy("col_name")
    )


@query(
    "database_namespace_ddl",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS db_listed
    FROM orders WHERE o_orderkey < 1000
    """,
)
def database_namespace_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE DATABASE + qualified-name addressing — the namespace
    layer every multi-team warehouse organizes by: a table written
    into a non-default database, addressed as db.table from the
    default context, the database verified present in SHOW DATABASES
    (db_listed carries the actual catalog lookup, not a literal).
    Namespaces are pure metastore metadata — no data-path
    implications at any scale."""
    import shutil

    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 1000)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_ns")
    spark.sql("DROP TABLE IF EXISTS graft_ns.ns_orders")
    # DROP in a fresh metastore can't clear a previous session's
    # leftover location (the db-qualified twin of
    # fresh_managed_table's default-db case)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    shutil.rmtree(
        f"{warehouse}/graft_ns.db/ns_orders", ignore_errors=True
    )
    o.select("o_orderkey", "o_totalprice").write.saveAsTable(
        "graft_ns.ns_orders"
    )
    listed = any(
        r.namespace == "graft_ns"
        for r in spark.sql("SHOW DATABASES").collect()
    )
    return (
        spark.table("graft_ns.ns_orders")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .select(
            "n_rows", "key_sum", F.lit(listed).alias("db_listed")
        )
    )


@query(
    "table_properties_ddl",
    oracle="""
    SELECT 'team' AS prop_key, 'curation' AS prop_value,
           count(*) AS n_rows
    FROM orders WHERE o_orderkey < 1000
    UNION ALL
    SELECT 'retention_days', '90', count(*)
    FROM orders WHERE o_orderkey < 1000
    ORDER BY prop_key
    """,
)
def table_properties_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE SET TBLPROPERTIES + SHOW TBLPROPERTIES — the
    metadata channel ownership/retention/lineage tooling reads
    (properties travel with the table through the metastore, not in a
    side spreadsheet). The returned rows carry the properties READ
    BACK from the catalog joined with the table's live row count, so
    a property that failed to persist breaks parity."""
    from hdsp_hive_release_src_spark.sources.io import (
        fresh_managed_table,
    )

    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 1000)
    fresh_managed_table(spark, "props_orders")
    o.select("o_orderkey").write.saveAsTable("props_orders")
    spark.sql(
        "ALTER TABLE props_orders SET TBLPROPERTIES "
        "('team' = 'curation', 'retention_days' = '90')"
    )
    props = {
        r.key: r.value
        for r in spark.sql(
            "SHOW TBLPROPERTIES props_orders"
        ).collect()
        if r.key in ("team", "retention_days")
    }
    n = spark.table("props_orders").count()
    return spark.createDataFrame(
        sorted((k, v, n) for k, v in props.items()),
        "prop_key string, prop_value string, n_rows long",
    )


@query(
    "global_temp_view",
    oracle="""
    SELECT o_orderpriority, count(*) AS n
    FROM orders WHERE o_orderkey < 2000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def global_temp_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL temporary views — the cross-session sharing tier between
    session-local temp views and catalog tables: registered once,
    addressable as global_temp.<name> from ANY session of the
    application (a second session is spun via newSession() and reads
    the view to prove the cross-session contract; a session-local
    view would be invisible there)."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 2000)
    o.createOrReplaceGlobalTempView("gtv_orders")
    other = spark.newSession()
    return (
        other.table("global_temp.gtv_orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


@query(
    "alter_table_evolution",
    oracle="""
    WITH c1 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey < 1000),
    c2 AS (SELECT count(*) AS n FROM orders
           WHERE o_orderkey >= 1000 AND o_orderkey < 2000)
    SELECT CAST(c1.n AS BIGINT) AS rows_before_alter,
           CAST(c2.n AS BIGINT) AS rows_after_alter,
           CAST(c1.n AS BIGINT) AS note_null_rows,
           CAST(c2.n AS BIGINT) AS note_v2_rows
    FROM c1, c2
    """,
)
def alter_table_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-place DDL schema evolution: CREATE TABLE, load, ALTER TABLE
    ADD COLUMNS, load more with the new column populated — old rows
    read back with NULL in the added column, new rows carry values,
    one consolidated scan serves both generations (the managed-table
    half of schema evolution; parquet_schema_merge covers the
    file-level half). At 100 TB ALTER ADD COLUMNS is metadata-only —
    no rewrite of existing files — which is exactly why the old rows
    MUST read as NULL."""

    o = Catalog(spark, sf_dir).orders
    fresh_managed_table(spark, "evo_orders")
    o.where(F.col("o_orderkey") < 1000).select(
        "o_orderkey", "o_totalprice"
    ).write.saveAsTable("evo_orders")
    spark.sql("ALTER TABLE evo_orders ADD COLUMNS (note STRING)")
    o.where(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)
    ).select(
        "o_orderkey", "o_totalprice", F.lit("v2").alias("note")
    ).write.insertInto("evo_orders")
    t = spark.table("evo_orders")
    return spark.createDataFrame(
        [
            (
                t.where(F.col("o_orderkey") < 1000).count(),
                t.where(F.col("o_orderkey") >= 1000).count(),
                t.where(F.col("note").isNull()).count(),
                t.where(F.col("note") == "v2").count(),
            )
        ],
        "rows_before_alter long, rows_after_alter long, "
        "note_null_rows long, note_v2_rows long",
    )


@query(
    "insert_into_overwrite_semantics",
    oracle="""
    WITH c AS (SELECT count(*) AS n FROM orders WHERE o_orderkey < 1500)
    SELECT CAST(2 * n AS BIGINT) AS after_two_inserts,
           CAST(n AS BIGINT) AS after_overwrite,
           CAST(0 AS BIGINT) AS after_truncate
    FROM c
    """,
)
def insert_into_overwrite_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Hive write-semantics triad on one table: INSERT INTO
    appends (two loads double the rows), INSERT OVERWRITE replaces
    the table's contents wholesale, TRUNCATE empties it — the
    difference between them is the single most common source of
    silent data duplication in ported Hive ETL. Counts are captured
    after each stage and checked against exact arithmetic."""

    o = Catalog(spark, sf_dir).orders.where(
        F.col("o_orderkey") < 1500
    ).select("o_orderkey", "o_totalprice")
    fresh_managed_table(spark, "ins_sem_orders")
    o.limit(0).write.saveAsTable("ins_sem_orders")
    o.write.insertInto("ins_sem_orders")          # append 1
    o.write.insertInto("ins_sem_orders")          # append 2
    after_two = spark.table("ins_sem_orders").count()
    o.write.insertInto("ins_sem_orders", overwrite=True)
    after_over = spark.table("ins_sem_orders").count()
    spark.sql("TRUNCATE TABLE ins_sem_orders")
    after_trunc = spark.table("ins_sem_orders").count()
    return spark.createDataFrame(
        [(after_two, after_over, after_trunc)],
        "after_two_inserts long, after_overwrite long, "
        "after_truncate long",
    )


@query(
    "alter_drop_partition",
    oracle="""
    SELECT o_orderpriority, count(*) AS n
    FROM orders
    WHERE o_orderkey < 4000 AND o_orderpriority <> '1-URGENT'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def alter_drop_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ... DROP PARTITION — the retention/GDPR primitive
    of every partitioned warehouse: one partition's data and metadata
    removed without touching siblings (the read back proves exactly
    the dropped priority is gone and every other partition is
    intact). At 100 TB dropping a date partition is O(1) metadata +
    file deletes — the reason tables partition by date in the first
    place."""

    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 4000)
    fresh_managed_table(spark, "droppart_orders")
    (
        o.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.partitionBy("o_orderpriority")
        .saveAsTable("droppart_orders")
    )
    spark.sql(
        "ALTER TABLE droppart_orders DROP PARTITION "
        "(o_orderpriority='1-URGENT')"
    )
    return (
        spark.table("droppart_orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------
# SHOW FUNCTIONS surface
# --------------------------------------------------------------------

#: Hive-parity builtins the engine must expose, by family. Each name
#: must appear in SHOW FUNCTIONS — a missing one breaks value parity
#: with the all-true oracle, which is the point: the check fails the
#: day a rename/removal shrinks the surface.
_HIVE_FN_FAMILIES: dict[str, list[str]] = {
    "agg": ["avg", "collect_list", "collect_set", "corr", "count",
            "covar_pop", "max", "min", "percentile_approx", "stddev",
            "sum", "variance"],
    "cond": ["coalesce", "greatest", "least", "nullif", "nvl", "when"],
    "complex": ["array_contains", "explode", "get_json_object",
                "inline", "json_tuple", "map_keys", "map_values",
                "posexplode", "sort_array", "xpath"],
    "date": ["add_months", "date_add", "date_sub", "datediff",
             "from_unixtime", "last_day", "months_between", "next_day",
             "trunc", "unix_timestamp"],
    "math": ["abs", "ceil", "exp", "factorial", "floor", "ln", "log10",
             "pmod", "pow", "round", "sign", "sqrt"],
    "string": ["concat", "instr", "lower", "lpad", "regexp_replace",
               "rpad", "soundex", "split", "substr", "translate",
               "trim", "upper"],
}


def _fn_values_sql() -> str:
    rows = ", ".join(
        f"('{fam}', '{fn}', true)"
        for fam, fns in sorted(_HIVE_FN_FAMILIES.items())
        for fn in fns
    )
    return (
        f"SELECT family, fn_name, present FROM (VALUES {rows}) "
        f"AS t(family, fn_name, present) ORDER BY family, fn_name"
    )


@query("show_functions_surface", oracle=_fn_values_sql())
def show_functions_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW FUNCTIONS catalog surface: every Hive-parity builtin the
    engine commits to (62 names across six families) must be listed by
    ``SHOW FUNCTIONS`` — the oracle pins present=true for all, so a
    missing/renamed function breaks value parity instead of silently
    shrinking the surface. The SHOW output is a bounded catalog
    listing (~400 names, driver-side by design, like every metadata
    query); membership is evaluated via a broadcast hash join against
    the expected-name literals, not a collect-side loop."""
    shown = spark.sql("SHOW FUNCTIONS").select(
        F.col("function").alias("fn_name")
    )
    expected = spark.createDataFrame(
        [
            (fam, fn)
            for fam, fns in sorted(_HIVE_FN_FAMILIES.items())
            for fn in fns
        ],
        "family string, fn_name string",
    )
    return (
        expected.join(
            shown.withColumn("present", F.lit(True)), "fn_name", "left"
        )
        .select(
            "family", "fn_name", F.coalesce("present", F.lit(False))
            .alias("present"),
        )
        .orderBy("family", "fn_name")
    )


#: columns of the managed table show_columns_views_surface creates —
#: shared by impl and oracle so the pin can't drift.
_SCV_COLS = ("p_partkey", "p_name", "p_type", "p_retailprice")


def _scv_oracle() -> str:
    rows = ", ".join(f"('column', '{c}')" for c in _SCV_COLS)
    return f"""
    SELECT kind, name
    FROM (VALUES {rows}, ('view', 'scv_view')) AS t(kind, name)
    ORDER BY kind, name
    """


@query("show_columns_views_surface", oracle=_scv_oracle())
def show_columns_views_surface(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHOW COLUMNS IN <table> + SHOW VIEWS — the two metadata listing
    surfaces §2.2's SHOW family still lacked (partitions, functions,
    CREATE TABLE are covered). A catalog view over a managed table is
    created, then both listings are read back and pinned against the
    expected inventory — a dropped column or an unlisted view breaks
    parity. Metadata-only: no data scan at any scale."""
    p = Catalog(spark, sf_dir).part
    fresh_managed_table(spark, "scv_part")
    p.select(*_SCV_COLS).limit(50).write.saveAsTable("scv_part")
    spark.sql("DROP VIEW IF EXISTS scv_view")
    spark.sql(
        "CREATE VIEW scv_view AS SELECT p_partkey, p_retailprice "
        "FROM scv_part"
    )
    cols = spark.sql("SHOW COLUMNS IN scv_part").select(
        F.lit("column").alias("kind"), F.col("col_name").alias("name")
    )
    views = spark.sql("SHOW VIEWS LIKE 'scv_view'").select(
        F.lit("view").alias("kind"), F.col("viewName").alias("name")
    )
    return cols.unionByName(views).orderBy("kind", "name")


#: (feature, expected) rows for explain_plan_surface; the oracle is
#: generated from this table so both sides share one definition.
_PLAN_FEATURES = (
    ("batched_columnar_scan", True),
    ("broadcast_hash_join", True),
    ("cartesian_product", False),
    ("filters_pushed_to_scan", True),
    ("partial_aggregation", True),
)


def _plan_features_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT '{name}' AS feature, {str(exp).upper()} AS present"
        for name, exp in _PLAN_FEATURES
    )
    return f"SELECT feature, present FROM ({rows}) ORDER BY feature"


@query("explain_plan_surface", oracle=_plan_features_oracle())
def explain_plan_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXPLAIN FORMATTED`` as a first-class query surface AND a
    plan-regression tripwire. We explain a representative
    dim-broadcast aggregation (orders ⋈ customer with a selective
    pushable filter) and emit one row per graded plan property. The
    oracle pins the expected values, so a regression (filter no
    longer reaching the parquet scan, broadcast degrading to
    shuffle/cartesian, codegen lost) flips a boolean and fails the
    value-hash at the gate. The plan string is one driver-side row —
    the only collect here is the EXPLAIN output itself."""
    cat = Catalog(spark, sf_dir)
    cat.orders.createOrReplaceTempView("orders")
    cat.customer.createOrReplaceTempView("customer")
    plan = spark.sql(
        """
        EXPLAIN FORMATTED
        SELECT /*+ BROADCAST(customer) */ c_mktsegment,
               count(*) AS n, sum(o_totalprice) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice > 50000 AND c_mktsegment <> 'NONE'
        GROUP BY c_mktsegment
        """
    ).collect()[0][0]
    feats = {
        "batched_columnar_scan": "Batched: true" in plan,
        "broadcast_hash_join": "BroadcastHashJoin" in plan,
        "cartesian_product": "CartesianProduct" in plan,
        "filters_pushed_to_scan": "PushedFilters: [" in plan
        and "IsNotNull(o_custkey)" in plan,
        "partial_aggregation": "partial_count" in plan
        and "partial_sum" in plan,
    }
    return (
        spark.createDataFrame(
            [Row(feature=k, present=v) for k, v in feats.items()]
        )
        .orderBy("feature")
    )


# --------------------------------------------------------------------
# EXPLAIN COST / CBO statistics surface
# --------------------------------------------------------------------

@query(
    "explain_cbo_stats",
    oracle="""
    SELECT 'cbo_customer' AS relation,
           CAST(count(*) AS BIGINT) AS plan_rowcount
    FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT 'cbo_orders', CAST(count(*) AS BIGINT) FROM orders
    ORDER BY relation
    """,
)
def explain_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN COST surface: after ANALYZE TABLE, the cost-based
    optimizer's plan must carry the exact catalog rowCount on each
    relation node — that number is what join reordering and broadcast
    selection key on, so this checks the CBO actually SEES the stats,
    not merely that the catalog stores them (analyze_table_stats
    covers storage). The rowCounts are read from the optimized
    logical plan of a two-table join via the plan-statistics API
    (leaf.stats().rowCount()) and compared against exact counts —
    driver-side metadata only. r16: the API replaced a regex over the
    EXPLAIN COST text; the full-registry sf0.1 parity sweep caught
    the text rendering stats at 3 SIGNIFICANT DIGITS
    (rowCount=2.94E+3 for the exact catalog value 2943), which is
    lossless at the sf0.01 gate (≤3-digit counts) and silently lossy
    at any real scale — exactly the class a plan-text parse invites
    and the API cannot exhibit."""
    c = Catalog(spark, sf_dir).customer
    o = Catalog(spark, sf_dir).orders
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        fresh_managed_table(spark, "cbo_customer")
        c.where(F.col("c_mktsegment") == "BUILDING").write.saveAsTable(
            "cbo_customer"
        )
        fresh_managed_table(spark, "cbo_orders")
        o.write.saveAsTable("cbo_orders")
        for t in ("cbo_customer", "cbo_orders"):
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS")
        joined = (
            spark.table("cbo_customer")
            .join(
                spark.table("cbo_orders"),
                F.col("c_custkey") == F.col("o_custkey"),
            )
            .select("o_orderkey")
        )
        # exact BigInt statistics from the join's own leaf nodes —
        # the numbers the CBO actually keys on (EXPLAIN COST's text
        # rendering truncates to 3 significant digits; see docstring)
        leaves = joined._jdf.queryExecution().optimizedPlan().collectLeaves()
        found = {}
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            rc = leaf.stats().rowCount()
            n = int(str(rc.get())) if rc.isDefined() else -1
            for t in ("cbo_customer", "cbo_orders"):
                if t in leaf.toString():
                    found[t] = n
        out = [
            (t, found.get(t, -1))
            for t in ("cbo_customer", "cbo_orders")
        ]
        return spark.createDataFrame(
            out, "relation string, plan_rowcount long"
        ).orderBy("relation")
    finally:
        spark.conf.unset("spark.sql.cbo.enabled")


# --------------------------------------------------------------------
# column / table COMMENT DDL
# --------------------------------------------------------------------

@query(
    "column_comments_ddl",
    oracle="""
    WITH meta AS (
      SELECT * FROM (VALUES
        ('col:n_nationkey', 'int|surrogate key'),
        ('col:n_name', 'string|nation name'),
        ('table_comment', 'nation dim')) AS t(item, val)),
    cnt AS (
      SELECT 'n_rows' AS item, CAST(count(*) AS VARCHAR) AS val
      FROM nation)
    SELECT item, val FROM meta
    UNION ALL SELECT item, val FROM cnt
    ORDER BY item
    """,
)
def column_comments_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMENT metadata channel (Hive DDL parity): column comments at
    CREATE time, added post-hoc via ALTER TABLE ... ALTER COLUMN
    COMMENT, and the table-level COMMENT — all surfaced back through
    DESCRIBE. Comments live purely in the catalog; the query proves
    the round trip by re-reading them from DESCRIBE output rather
    than echoing the DDL strings."""
    fresh_managed_table(spark, "cmt9_nation")
    spark.sql(
        "CREATE TABLE cmt9_nation ("
        " n_nationkey INT COMMENT 'surrogate key',"
        " n_name STRING) USING parquet COMMENT 'nation dim'"
    )
    spark.sql(
        "ALTER TABLE cmt9_nation ALTER COLUMN n_name "
        "COMMENT 'nation name'"
    )
    n = Catalog(spark, sf_dir).nation
    n.select("n_nationkey", "n_name").createOrReplaceTempView(
        "nat_r9c"
    )
    spark.sql("INSERT INTO cmt9_nation SELECT * FROM nat_r9c")
    desc = {
        r.col_name: (r.data_type, r.comment)
        for r in spark.sql("DESCRIBE TABLE cmt9_nation").collect()
        if r.col_name and not r.col_name.startswith("#")
    }
    tbl_comment = ""
    for r in spark.sql("DESCRIBE TABLE EXTENDED cmt9_nation").collect():
        if r.col_name.strip() == "Comment":
            tbl_comment = r.data_type.strip()
    n_rows = spark.table("cmt9_nation").count()
    rows = [
        (
            f"col:{c}",
            f"{desc[c][0]}|{desc[c][1]}",
        )
        for c in ("n_nationkey", "n_name")
    ] + [("table_comment", tbl_comment), ("n_rows", str(n_rows))]
    return spark.createDataFrame(
        rows, "item string, val string"
    ).orderBy("item")


# --------------------------------------------------------------------
# DEFAULT column values
# --------------------------------------------------------------------

@query(
    "insert_defaults_surface",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS pri, 'defaulted' AS flag,
             CAST(0 AS BIGINT) AS cents
      FROM orders WHERE o_custkey % 10 = 3),
    extra AS (
      SELECT 'NONE' AS pri, 'explicit' AS flag,
             CAST(0 AS BIGINT) AS cents),
    un AS (
      SELECT pri, flag, cents FROM base
      UNION ALL SELECT pri, flag, cents FROM extra)
    SELECT pri, flag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM un GROUP BY pri, flag ORDER BY pri, flag
    """,
)
def insert_defaults_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULT values (ANSI / Hive 4 surface): a partial-column
    INSERT fills omitted columns from their declared defaults, and the
    DEFAULT keyword is usable positionally in VALUES. Defaults are
    resolved at analysis time into literals — zero runtime cost at any
    scale."""
    fresh_managed_table(spark, "def9_orders")
    spark.sql(
        "CREATE TABLE def9_orders ("
        " k BIGINT,"
        " pri STRING DEFAULT 'NONE',"
        " flag STRING DEFAULT 'defaulted',"
        " cents BIGINT DEFAULT 0) USING parquet"
    )
    Catalog(spark, sf_dir).orders.createOrReplaceTempView("ord_r9d")
    spark.sql(
        "INSERT INTO def9_orders (k, pri) "
        "SELECT o_orderkey, o_orderpriority FROM ord_r9d "
        "WHERE o_custkey % 10 = 3"
    )
    spark.sql(
        "INSERT INTO def9_orders VALUES (-1, DEFAULT, 'explicit', DEFAULT)"
    )
    return spark.sql(
        """
        SELECT pri, flag, count(*) AS n, sum(cents) AS sum_cents
        FROM def9_orders GROUP BY pri, flag ORDER BY pri, flag
        """
    )


@query(
    "sql_session_variables",
    oracle="""
    WITH thresh AS (
      SELECT round(avg(o_totalprice), 2) AS cutoff FROM orders)
    SELECT count(*) AS n_above,
           round(min(o_totalprice), 2) AS min_above,
           (SELECT cutoff FROM thresh) AS cutoff_used
    FROM orders, thresh WHERE o_totalprice > thresh.cutoff
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE / SET VAR, Spark 4): a scalar
    computed once into a variable, then used as a literal in a second
    query — the procedural-script idiom (Hive's hivevar / SET
    substitution, now typed and evaluated server-side). The oracle
    inlines the same scalar via a CTE; values must agree exactly.
    Variables are session-scoped literals at plan time, so the second
    query's filter is a pushed-down constant predicate — no re-scan
    of the defining subquery."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "var_orders_src"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE rev_cutoff DOUBLE")
    spark.sql(
        "SET VAR rev_cutoff = (SELECT round(avg(o_totalprice), 2)"
        " FROM var_orders_src)"
    )
    return spark.sql(
        """
        SELECT count(*) AS n_above,
               round(min(o_totalprice), 2) AS min_above,
               rev_cutoff AS cutoff_used
        FROM var_orders_src WHERE o_totalprice > rev_cutoff
        """
    )


@query(
    "parameterized_query",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_custkey < 500
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter queries two ways: the spark.sql(args=...) API
    and SQL-level EXECUTE IMMEDIATE ... USING — the injection-safe
    parameter binding Hive scripts fake with string substitution.
    Both forms must produce identical results (the EXECUTE IMMEDIATE
    result is what's returned; a cross-check against the args form
    runs in tests). Parameters bind as literals before optimization,
    so the predicate pushes down like any constant."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "param_orders_src"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority, count(*) AS n,
                round(sum(o_totalprice), 2) AS total
         FROM param_orders_src WHERE o_custkey < ?
         GROUP BY o_orderpriority ORDER BY o_orderpriority'
        USING 500
        """
    )


# --------------------------------------------------------------------
# SQL scripting block
# --------------------------------------------------------------------

#: WHILE-loop iteration count for the deterministic accumulator
#: (3^SCRIPT_LOOPS) — proves control flow executed, not just parsed.
SCRIPT_LOOPS = 5

_SCRIPT_ORACLE = f"""
WITH tot AS (
  SELECT CAST(sum({ORDER_CENTS}) AS BIGINT) AS t FROM orders)
SELECT o_orderpriority,
       CAST(sum({ORDER_CENTS}) * 1000 // tot.t AS BIGINT)
           AS share_permille,
       CAST({3 ** SCRIPT_LOOPS} AS BIGINT) AS loop_acc
FROM orders CROSS JOIN tot
GROUP BY o_orderpriority, tot.t
ORDER BY o_orderpriority
"""


@query("sql_scripting_block", oracle=_SCRIPT_ORACLE)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.0 SQL scripting (the HPL/SQL-style procedural surface):
    a BEGIN … END block DECLAREs session-local variables, SETs one
    from a scalar subquery over the fact table, runs a WHILE loop
    accumulating 3^{SCRIPT_LOOPS} (control flow must actually
    execute — a parser-only pass would leave the default), and
    returns a result set parameterized by both variables. The oracle
    computes the same shares with a CTE and the loop result in
    closed form. Declarations precede statements (the scripting
    grammar requires it)."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "script_orders"
    )
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    return spark.sql(
        f"""
        BEGIN
          DECLARE tot BIGINT;
          DECLARE i INT DEFAULT 0;
          DECLARE acc BIGINT DEFAULT 1;
          SET tot = (SELECT sum({cents}) FROM script_orders);
          WHILE i < {SCRIPT_LOOPS} DO
            SET acc = acc * 3;
            SET i = i + 1;
          END WHILE;
          SELECT o_orderpriority,
                 CAST(sum({cents}) * 1000 div tot AS BIGINT)
                     AS share_permille,
                 acc AS loop_acc
          FROM script_orders
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority;
        END
        """
    )


@query(
    "identifier_clause",
    oracle="""
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER(:param) — late-bound, injection-safe table and
    column references (Spark 3.5+/modern Hive templating surface).
    The table names AND the grouping column arrive as string
    parameters; the clause turns them into catalog identifiers at
    plan time, so a malicious value can't smuggle SQL. Plan is the
    ordinary broadcast dim join."""
    cat = Catalog(spark, sf_dir)
    cat.supplier.createOrReplaceTempView("supplier")
    cat.nation.createOrReplaceTempView("nation")
    return spark.sql(
        """
        SELECT IDENTIFIER(:keycol) AS n_name,
               CAST(count(*) AS BIGINT) AS n_suppliers
        FROM IDENTIFIER(:fact) JOIN IDENTIFIER(:dim)
          ON s_nationkey = n_nationkey
        GROUP BY IDENTIFIER(:keycol) ORDER BY n_name
        """,
        args={"fact": "supplier", "dim": "nation", "keycol": "n_name"},
    )


@query(
    "table_sample_bucket",
    oracle="""
    SELECT count(*) AS n_sampled,
           round(sum(o_totalprice), 2) AS sampled_total,
           count(DISTINCT o_custkey) AS n_custs
    FROM orders WHERE o_orderkey % 10 = 3
    """,
)
def table_sample_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive TABLESAMPLE(BUCKET 4 OUT OF 10 ON o_orderkey) — the
    deterministic hash/mod bucket sample (rand()-free so reruns,
    retried tasks, and the oracle all agree)."""
    o = Catalog(spark, sf_dir).orders
    return o.where(F.pmod("o_orderkey", F.lit(10)) == 3).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.sum("o_totalprice"), 2).alias("sampled_total"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


@query(
    "table_sample_percent_rows",
    oracle="""
    SELECT CAST(200 AS BIGINT) AS n_rows_sample,
           TRUE AS pct_within_bounds,
           CAST(count(*) AS BIGINT) AS mod_sample_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS mod_sample_keysum
    FROM orders WHERE o_orderkey % 20 = 0
    """,
)
def table_sample_percent_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TABLESAMPLE forms analysts actually type: ``(n ROWS)`` and
    ``(p PERCENT)`` — alongside the bucket form (table_sample_bucket).

    ROWS is an exact global limit (count asserted exactly). PERCENT is
    Bernoulli row sampling: REPEATABLE(seed) pins the sample within a
    run, but the per-partition seed offsets make the exact membership
    layout-dependent, so the cross-engine check is the statistical
    contract — the sampled fraction must sit within ±0.08 of 25%
    (≈7σ at smoke scale; a correctness bound, not a flaky one). The
    deterministic value-level twin both engines CAN hash-compare is
    the mod-sample (the established rand()-free pattern here), emitted
    as exact row count + key checksum. At 100 TB PERCENT sampling is
    the only one of the three that stays a map-only scan with no
    global coordination; n ROWS funnels through a single-stage limit
    and is the form to avoid on big tables."""
    o = Catalog(spark, sf_dir).orders
    o.createOrReplaceTempView("ts_orders_src")
    rows_n = spark.sql(
        "SELECT * FROM ts_orders_src TABLESAMPLE (200 ROWS)"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_rows_sample"))
    pct_n = spark.sql(
        "SELECT * FROM ts_orders_src TABLESAMPLE (25 PERCENT) REPEATABLE (7)"
    ).agg(F.count(F.lit(1)).alias("pct_n"))
    # r13 subtree fix: the total count and the mod-sample twin are
    # plain aggregates over the SAME unsampled table — one conditional
    # agg pass instead of two scans (the two TABLESAMPLE scans keep
    # their own passes by definition: the sampling happens at the
    # scan). 4 scans -> 3.
    is_mod = F.pmod("o_orderkey", F.lit(20)) == 0
    tot_mod = o.agg(
        F.count(F.lit(1)).alias("total_n"),
        F.count(F.when(is_mod, 1)).cast("long").alias(
            "mod_sample_rows"
        ),
        F.sum(F.when(is_mod, F.col("o_orderkey")))
        .cast("long")
        .alias("mod_sample_keysum"),
    ).localCheckpoint()
    pct_ok = (
        pct_n.join(F.broadcast(tot_mod.select("total_n")))
        .select(
            (
                F.abs(F.col("pct_n") / F.col("total_n") - 0.25) < 0.08
            ).alias("pct_within_bounds")
        )
    )
    mod = tot_mod.select("mod_sample_rows", "mod_sample_keysum")
    return rows_n.join(F.broadcast(pct_ok)).join(F.broadcast(mod))


def _morton_bits(c: str, d: str, bits: int = 16) -> str:
    """32-bit Morton interleave of two ``bits``-bit ints — identical
    integer-arithmetic text for Spark SQL and DuckDB."""
    terms = []
    for i in range(bits):
        terms.append(f"((({c} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({d} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


@query(
    "zorder_interleave",
    oracle=f"""
    WITH k AS (
      SELECT o_orderkey,
             CAST(o_custkey & 65535 AS BIGINT) AS c,
             CAST(CAST(o_orderdate AS DATE) - DATE '2023-01-01'
                  AS BIGINT) & 65535 AS d
      FROM orders WHERE o_orderkey < 2000)
    SELECT o_orderkey,
           CAST({_morton_bits('c', 'd')} AS BIGINT) AS zval
    FROM k ORDER BY o_orderkey
    """,
)
def zorder_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key: bit-interleaving customer key and order
    date so that sorting by ONE value clusters BOTH dimensions — the
    multi-dimensional data-layout technique behind Delta/Iceberg
    OPTIMIZE ZORDER, built from plain bit arithmetic (no engine
    support needed). Sorting files by zval makes per-file min/max
    ranges tight in both custkey AND date, so scans filtering on
    either dimension skip files (a linear sort clusters only its
    leading column). The same interleave arithmetic runs in both
    engines; the layout benefit itself is asserted in
    tests/test_plans_r5.py on real written files."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 2000)
    k = o.select(
        "o_orderkey",
        F.expr("CAST(o_custkey & 65535 AS BIGINT)").alias("c"),
        F.expr(
            "CAST(datediff(o_orderdate, DATE '2023-01-01') & 65535"
            " AS BIGINT)"
        ).alias("d"),
    )
    return k.select(
        "o_orderkey",
        F.expr(f"CAST({_morton_bits('c', 'd')} AS BIGINT)").alias(
            "zval"
        ),
    ).orderBy("o_orderkey")


#: dimension width (bits) and the z-block shift: 2*10-bit keys in 64
#: blocks of 16384 z-values each.
Z_BITS = 10
Z_BLOCK_SHIFT = 14


def _interleave_sql(a: str, b: str) -> str:
    """Portable Morton interleave: bit i of ``a`` lands at 2i, bit i
    of ``b`` at 2i+1 — pure div/mod/multiply, identical text on
    Spark and DuckDB."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(({a} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({b} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_Z_ORACLE = f"""
WITH pts AS (
  SELECT DISTINCT l_partkey % {1 << Z_BITS} AS pk,
         l_suppkey % {1 << Z_BITS} AS sk
  FROM lineitem),
z AS (
  SELECT pk, sk,
         CAST(({_interleave_sql("pk", "sk")}) // {1 << Z_BLOCK_SHIFT}
              AS BIGINT) AS zblock
  FROM pts)
SELECT zblock, CAST(count(*) AS BIGINT) AS n_points,
       CAST(min(pk) AS BIGINT) AS pk_min,
       CAST(max(pk) AS BIGINT) AS pk_max,
       CAST(min(sk) AS BIGINT) AS sk_min,
       CAST(max(sk) AS BIGINT) AS sk_max,
       CAST((max(pk) - min(pk) + 1) * (max(sk) - min(sk) + 1)
            AS BIGINT) AS span_product
FROM z GROUP BY zblock ORDER BY zblock
"""


@query("morton_zorder_clustering", oracle=_Z_ORACLE)
def morton_zorder_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-order (Morton) clustering blocks over the (partkey, suppkey)
    plane — the layout technique behind OPTIMIZE ZORDER file
    clustering: interleave the two {Z_BITS}-bit dimensions into one
    sort key with pure integer arithmetic (the generated expression
    is textually identical in both engines — no engine bit
    intrinsics), cut the key space into 64 z-blocks, and report each
    block's per-dimension min/max span. The span_product column is
    the point: a z-block bounds BOTH dimensions (≈ key-space /
    blocks in area), so per-file min/max statistics prune scans on
    either predicate — a lexicographic sort gives the same guarantee
    only for the leading column. Map-side arithmetic + one bounded
    64-group aggregation; at 100 TB the same key feeds a
    repartitionByRange write."""
    li = Catalog(spark, sf_dir).lineitem
    pts = li.select(
        (F.col("l_partkey") % (1 << Z_BITS)).alias("pk"),
        (F.col("l_suppkey") % (1 << Z_BITS)).alias("sk"),
    ).distinct()
    # Spark div is `div`; the shared expression uses // — translate
    spark_expr = _interleave_sql("pk", "sk").replace("//", "div")
    z = pts.select(
        "pk",
        "sk",
        F.expr(
            f"cast(({spark_expr}) div {1 << Z_BLOCK_SHIFT} as bigint)"
        ).alias("zblock"),
    )
    return (
        z.groupBy("zblock")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.min("pk").cast("long").alias("pk_min"),
            F.max("pk").cast("long").alias("pk_max"),
            F.min("sk").cast("long").alias("sk_min"),
            F.max("sk").cast("long").alias("sk_max"),
        )
        .select(
            "zblock",
            "n_points",
            "pk_min",
            "pk_max",
            "sk_min",
            "sk_max",
            (
                (F.col("pk_max") - F.col("pk_min") + 1)
                * (F.col("sk_max") - F.col("sk_min") + 1)
            )
            .cast("long")
            .alias("span_product"),
        )
        .orderBy("zblock")
    )


@query(
    "observed_load_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(count_if(o_totalprice > 300000) AS BIGINT) AS n_big
    FROM orders
    """,
)
def observed_load_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset.observe — zero-extra-pass load instrumentation: metric
    expressions ride along the load job itself (an accumulator per
    metric, no second scan) and surface when the action finishes; the
    pattern every production load uses to publish row counts and
    checksums without re-reading 100 TB. The observed values are
    returned AS the result row, so the oracle proves the piggybacked
    metrics equal a direct aggregation."""
    from pyspark.sql import Observation

    o = Catalog(spark, sf_dir).orders
    obs = Observation("load_metrics")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.count_if(F.col("o_totalprice") > 300000).alias("n_big"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "load"
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["total_price"], m["n_big"])],
        "n_rows long, total_price double, n_big long",
    )

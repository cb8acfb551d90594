"""Governance domain: data-quality, privacy and change-data pipelines.

Row-level security, k-anonymity, erasure cascades, data-quality and
checksum audits, table diffs, golden records, snapshots, CDC and MERGE,
SCD2, watermarks and incremental view maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import ORDER_CENTS, Catalog
from hdsp_hive_release_src_spark.operators.materialize import persist_fact_rows
from hdsp_hive_release_src_spark.registry import query


@query(
    "rls_secure_view",
    oracle="""
    SELECT 'BUILDING' AS acting_segment, count(*) AS n_visible,
           CAST(sum(o.o_orderkey) AS BIGINT) AS key_sum
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT 'MACHINERY', count(*),
           CAST(sum(o.o_orderkey) AS BIGINT)
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'MACHINERY'
    ORDER BY acting_segment
    """,
)
def rls_secure_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level security as a parameterized secure VIEW: the view
    body filters on a session VARIABLE (the acting principal's
    segment), so every reader sees only their rows — the exact
    pattern Hive deploys via Ranger row-filter policies, expressed
    with Spark 4 session variables + a view (no engine fork needed).
    The query reads the SAME view under two different principals and
    returns both visibility sets; parity proves the filter is
    dynamic (re-evaluated per read), not baked in at view creation.
    Scale shape: the variable is a plan-time literal, so the
    predicate pushes into the customer scan like any constant —
    RLS costs nothing beyond the filter itself."""
    cat = Catalog(spark, sf_dir)
    cat.orders.createOrReplaceTempView("rls_orders_src")
    cat.customer.createOrReplaceTempView("rls_customer_src")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE rls_segment STRING DEFAULT ''"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW rls_orders AS
        SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment
        FROM rls_orders_src o JOIN rls_customer_src c
          ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = rls_segment
        """
    )
    frames = []
    for segment in ("BUILDING", "MACHINERY"):
        spark.sql(f"SET VAR rls_segment = '{segment}'")
        frames.append(
            spark.table("rls_orders")
            .agg(
                F.count(F.lit(1)).alias("n_visible"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )
            .select(
                F.lit(segment).alias("acting_segment"),
                "n_visible",
                "key_sum",
            )
        )
    return frames[0].unionAll(frames[1]).orderBy("acting_segment")


#: k threshold and the acctbal band width (dollars) of the third
#: quasi-identifier.
KANON_K = 5
KANON_BAND = 2000

_KANON_ORACLE = f"""
WITH q AS (
  SELECT c_nationkey AS n, c_mktsegment AS m,
         CAST(round(c_acctbal * 100) AS BIGINT) // {KANON_BAND * 100}
             AS band,
         CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS sensitive
  FROM customer),
g AS (
  SELECT n, m, band, CAST(count(*) AS BIGINT) AS sz,
         CAST(count(DISTINCT sensitive) AS BIGINT) AS l_div
  FROM q GROUP BY n, m, band)
SELECT CAST(least(sz, {KANON_K}) AS BIGINT) AS size_bucket,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END)
            AS BIGINT) AS rows_at_risk,
       CAST(sum(CASE WHEN l_div = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS homogeneous_groups
FROM g GROUP BY 1 ORDER BY size_bucket
"""


@query("k_anonymity_audit", oracle=_KANON_ORACLE)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the customer table: the
    quasi-identifier is (nation, segment, ${KANON_BAND}-dollar
    balance band) — the combination an adversary can look up — and
    the sensitive attribute is the negative-balance flag. Per
    group-size bucket (sizes capped at {KANON_K}+): group count,
    covered rows, rows in groups below k (re-identifiable), and
    groups with l-diversity 1 (every member shares the sensitive
    value, so even a k-anonymous group leaks it). One groupBy at the
    quasi-id grain, one bounded rollup — the shape scales to any
    table width."""
    c = Catalog(spark, sf_dir).customer
    q = c.select(
        F.col("c_nationkey").alias("n"),
        F.col("c_mktsegment").alias("m"),
        F.expr(
            f"cast(round(c_acctbal * 100) as bigint)"
            f" div {KANON_BAND * 100}"
        ).alias("band"),
        F.when(F.col("c_acctbal") < 0, 1).otherwise(0).alias(
            "sensitive"
        ),
    )
    g = q.groupBy("n", "m", "band").agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.countDistinct("sensitive").cast("long").alias("l_div"),
    )
    return (
        g.groupBy(
            F.least(F.col("sz"), F.lit(KANON_K))
            .cast("long")
            .alias("size_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("sz").cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col("sz") < KANON_K, F.col("sz")).otherwise(0)
            )
            .cast("long")
            .alias("rows_at_risk"),
            F.sum(F.when(F.col("l_div") == 1, 1).otherwise(0))
            .cast("long")
            .alias("homogeneous_groups"),
        )
        .orderBy("size_bucket")
    )


#: deterministic erasure-subject selection: every 17th customer key.
ERASE_MOD = 17

_ERASE_ORACLE = f"""
WITH subj AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {ERASE_MOD} = 0),
o AS (
  SELECT o_orderkey,
         CASE WHEN o_custkey IN (SELECT c_custkey FROM subj)
              THEN 1 ELSE 0 END AS hit
  FROM orders),
l AS (
  SELECT CASE WHEN o.hit = 1 THEN 1 ELSE 0 END AS hit
  FROM lineitem li JOIN o ON li.l_orderkey = o.o_orderkey)
SELECT 'customer' AS tbl,
       CAST((SELECT count(*) FROM subj) AS BIGINT) AS rows_to_erase,
       CAST((SELECT count(*) FROM customer)
            - (SELECT count(*) FROM subj) AS BIGINT) AS rows_kept
UNION ALL
SELECT 'orders',
       CAST((SELECT sum(hit) FROM o) AS BIGINT),
       CAST((SELECT count(*) - sum(hit) FROM o) AS BIGINT)
UNION ALL
SELECT 'lineitem',
       CAST((SELECT sum(hit) FROM l) AS BIGINT),
       CAST((SELECT count(*) - sum(hit) FROM l) AS BIGINT)
ORDER BY tbl
"""


@query("cascading_erasure_audit", oracle=_ERASE_ORACLE)
def cascading_erasure_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-erasure dry run across the FK cascade: a
    deterministic subject set (every {ERASE_MOD}th customer) is
    traced through customer → orders → lineitem, reporting per table
    the rows the deletion job must remove and the rows it must NOT
    touch — the pre-flight audit that catches both under-deletion
    (orphaned PII in child tables) and over-deletion before any data
    moves. The subject set is broadcast onto orders; the order-key
    hit set rides the existing orders⋈lineitem key join — no extra
    shuffle beyond the joins the cascade itself defines."""
    cat = Catalog(spark, sf_dir)
    subj = cat.customer.where(
        F.col("c_custkey") % ERASE_MOD == 0
    ).select("c_custkey")
    o = cat.orders.join(
        F.broadcast(subj), cat.orders.o_custkey == subj.c_custkey, "left"
    ).select(
        "o_orderkey",
        F.when(F.col("c_custkey").isNotNull(), 1)
        .otherwise(0)
        .alias("hit"),
    )
    li = cat.lineitem.join(
        o, cat.lineitem.l_orderkey == o.o_orderkey
    ).select("hit")

    def counts(df, hit_col, name):
        return df.agg(
            F.lit(name).alias("tbl"),
            F.sum(hit_col).cast("long").alias("rows_to_erase"),
            (F.count(F.lit(1)) - F.sum(hit_col))
            .cast("long")
            .alias("rows_kept"),
        )

    cust = cat.customer.select(
        F.when(F.col("c_custkey") % ERASE_MOD == 0, 1)
        .otherwise(0)
        .alias("hit")
    )
    return (
        counts(cust, F.col("hit"), "customer")
        .unionByName(counts(o, F.col("hit"), "orders"))
        .unionByName(counts(li, F.col("hit"), "lineitem"))
        .orderBy("tbl")
    )


@query(
    "dq_audit",
    oracle="""
    WITH orphans AS (
      SELECT count(*) AS n_orphan FROM (
        SELECT l_orderkey FROM lineitem
        EXCEPT
        SELECT o_orderkey FROM orders)),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count(l_quantity) AS BIGINT) AS null_qty,
             CAST(count_if(l_discount < 0 OR l_discount > 0.5)
                  AS BIGINT) AS bad_discount,
             CAST(count_if(l_shipdate IS NULL) AS BIGINT)
                 AS null_shipdate,
             CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags
      FROM lineitem)
    SELECT n_rows, null_qty, bad_discount, null_shipdate, n_flags,
           CAST(n_orphan AS BIGINT) AS n_orphan_lines
    FROM base, orphans
    """,
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit — the gate a production load runs before
    publishing a partition: null counts, domain-range violations,
    category cardinality, and referential orphans (lineitem keys with
    no parent order). One scan of conditional aggregates + one
    distinct-key anti probe; emitted as a single wide row a scheduler
    can assert on. At 100 TB the orphan probe is a broadcast of the
    aggregated DISTINCT key set, never a row-level join."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    orphan = (
        li.select("l_orderkey")
        .distinct()
        .join(
            cat.orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_orphan_lines"))
    )
    base = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("l_quantity")).alias("null_qty"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)
        ).alias("bad_discount"),
        F.count_if(F.col("l_shipdate").isNull()).alias("null_shipdate"),
        F.count_distinct("l_returnflag").alias("n_flags"),
    )
    return base.join(F.broadcast(orphan))


def _row_fingerprint_sql(nibbles: int = 15) -> str:
    """60-bit integer from the first 15 md5 nibbles of the canonical
    row string `s` — identical arithmetic text for both engines."""
    terms = [
        f"(CAST(instr('0123456789abcdef', substr(h, {k}, 1)) - 1"
        f" AS BIGINT) * {16 ** (nibbles - k)})"
        for k in range(1, nibbles + 1)
    ]
    return " + ".join(terms)


@query(
    "table_checksum_audit",
    oracle=f"""
    WITH canon AS (
      SELECT md5(CAST(o_orderkey AS VARCHAR) || '|'
             || CAST(o_custkey AS VARCHAR) || '|'
             || o_orderstatus || '|'
             || CAST(CAST(o_totalprice AS DECIMAL(18, 2)) AS VARCHAR)
             || '|' || o_orderpriority || '|'
             || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS h
      FROM orders),
    fp AS (SELECT {{}} AS v FROM canon)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(v AS DECIMAL(38, 0))) AS VARCHAR)
               AS content_checksum
    FROM fp
    """.format(
        _row_fingerprint_sql().replace("instr(", "strpos(")
    ),
)
def table_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table content checksum — the cross-system
    migration validator: every row canonicalizes to a delimited
    string (doubles pinned to DECIMAL(18,2) text, dates to ISO — the
    two encodings engines would otherwise render differently), hashes
    to a 60-bit integer (15 md5 nibbles), and the DECIMAL(38) SUM of
    those integers is the table's fingerprint. Summation is
    commutative, so partitioning/order can't change it, and decimal
    addition is exact, so neither can the combine tree — two systems
    holding the same rows MUST produce the same checksum, which is
    precisely what the oracle asserts from the other engine. One scan,
    one map-side-combined aggregation; at 100 TB this runs per
    partition for incremental re-validation."""
    o = Catalog(spark, sf_dir).orders
    canon = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
            "o_orderpriority",
            F.col("o_orderdate").cast("date").cast("string"),
        )
    )
    fp = o.select(canon.alias("h")).select(
        F.expr(_row_fingerprint_sql()).alias("v")
    )
    return fp.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").cast("decimal(38,0)"))
        .cast("string")
        .alias("content_checksum"),
    )


# --------------------------------------------------------------------
# table diff / reconciliation
# --------------------------------------------------------------------

#: deterministic "v2" mutation rules (mod arithmetic on the key so
#: both engines derive the identical second version): drop every
#: 13th key, bump price on every remaining 7th key, clone every
#: 11th key with a shifted key as an insert.
DIFF_DROP_MOD = 13
DIFF_CHG_MOD = 7
DIFF_ADD_MOD = 11
DIFF_KEY_SHIFT = 1_000_000_000

_DIFF_V2 = f"""
  SELECT o_orderkey AS k,
         {ORDER_CENTS} + CASE WHEN o_orderkey % {DIFF_CHG_MOD} = 0
                         THEN 100 ELSE 0 END AS cents,
         o_orderstatus AS st
  FROM orders WHERE o_orderkey % {DIFF_DROP_MOD} <> 0
  UNION ALL
  SELECT o_orderkey + {DIFF_KEY_SHIFT}, {ORDER_CENTS}, o_orderstatus
  FROM orders WHERE o_orderkey % {DIFF_ADD_MOD} = 0
"""

_DIFF_ORACLE = f"""
WITH v1 AS (
  SELECT o_orderkey AS k, {ORDER_CENTS} AS cents, o_orderstatus AS st
  FROM orders),
v2 AS ({_DIFF_V2}),
j AS (
  SELECT coalesce(v1.k, v2.k) AS k,
         v1.cents AS c1, v2.cents AS c2,
         v1.st AS s1, v2.st AS s2,
         CASE WHEN v2.k IS NULL THEN 'removed'
              WHEN v1.k IS NULL THEN 'added'
              WHEN v1.cents <> v2.cents OR v1.st <> v2.st
                THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
SELECT status, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN status = 'changed'
                     THEN abs(c2 - c1) ELSE 0 END) AS BIGINT)
           AS abs_drift_cents
FROM j GROUP BY status ORDER BY status
"""


@query("table_diff_reconcile", oracle=_DIFF_ORACLE)
def table_diff_reconcile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-version table reconciliation — the report a dual-write
    cutover or backfill signs off on: a deterministic 'v2' of the
    orders table (mod-keyed drops/updates/inserts, so both engines
    derive the identical version), FULL OUTER JOIN on the key, each
    row classified added / removed / changed / unchanged, plus the
    changed rows' total absolute cents drift. One co-partitioned
    full-outer shuffle join on the key — the diff never leaves the
    join's own exchange; at cluster scale bucket both versions on
    the key and the exchange disappears."""
    o = Catalog(spark, sf_dir).orders
    # r12 scan-count fix: v1 and v2's two branches each scanned
    # orders (3 scans measured); the narrow (key, cents, status)
    # projection is materialized once and all three derive from it —
    # DISK_ONLY persist, not localCheckpoint, because it is
    # orders-ROW-sized (materialize.py discipline)
    base = persist_fact_rows(
        o.select(
            F.col("o_orderkey").alias("bk"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("bc"),
            F.col("o_orderstatus").alias("bs"),
        )
    )
    v1 = base.select(
        F.col("bk").alias("k"),
        F.col("bc").alias("c1"),
        F.col("bs").alias("s1"),
    )
    v2 = (
        base.where(F.col("bk") % DIFF_DROP_MOD != 0)
        .select(
            F.col("bk").alias("k"),
            (
                F.col("bc")
                + F.when(
                    F.col("bk") % DIFF_CHG_MOD == 0, 100
                ).otherwise(0)
            ).alias("c2"),
            F.col("bs").alias("s2"),
        )
        .unionByName(
            base.where(F.col("bk") % DIFF_ADD_MOD == 0).select(
                (F.col("bk") + DIFF_KEY_SHIFT).alias("k"),
                F.col("bc").alias("c2"),
                F.col("bs").alias("s2"),
            )
        )
    )
    j = v1.join(v2, "k", "full_outer").select(
        F.when(F.col("c2").isNull() & F.col("s2").isNull(), "removed")
        .when(F.col("c1").isNull() & F.col("s1").isNull(), "added")
        .when(
            (F.col("c1") != F.col("c2")) | (F.col("s1") != F.col("s2")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("status"),
        "c1",
        "c2",
    )
    return (
        j.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(
                    F.col("status") == "changed",
                    F.abs(F.col("c2") - F.col("c1")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("abs_drift_cents"),
        )
        .orderBy("status")
    )


@query(
    "survivorship_golden_record",
    oracle="""
    WITH src AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN event_type <> 'error' THEN event_type END
                 AS last_action,
             CASE WHEN value > 100 THEN value END AS big_value
      FROM events),
    base AS (
      SELECT user_id, max(ts) AS last_seen, count(*) AS n_sources
      FROM src GROUP BY user_id),
    la AS (
      SELECT user_id, last_action FROM (
        SELECT user_id, last_action,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM src WHERE last_action IS NOT NULL) WHERE rn = 1),
    bv AS (
      SELECT user_id, big_value FROM (
        SELECT user_id, big_value,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM src WHERE big_value IS NOT NULL) WHERE rn = 1)
    SELECT base.user_id,
           CAST(epoch_us(last_seen) AS BIGINT) AS last_seen_us,
           la.last_action,
           round(coalesce(bv.big_value, 0), 2) AS last_big_value,
           n_sources
    FROM base LEFT JOIN la USING (user_id)
              LEFT JOIN bv USING (user_id)
    ORDER BY base.user_id
    """,
)
def survivorship_golden_record(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MDM survivorship: the golden record merges fields from
    DIFFERENT source rows per entity — each attribute independently
    takes its most recent NON-NULL value (most-recent-wins per
    field), which `dedup_keep_best`'s pick-one-row cannot express
    (the freshest action and the freshest large transaction may live
    on different rows). Implemented as one aggregation with
    per-field max_by over null-filtered values (deterministic
    (ts, event_id) recency key); DuckDB's arg_max FILTER is the
    twin. One shuffle on the entity key, partial-aggregated —
    survivorship at 100 TB is exactly one exchange."""
    ev = Catalog(spark, sf_dir).events
    src = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") != "error", F.col("event_type")
        ).alias("last_action"),
        F.when(F.col("value") > 100, F.col("value")).alias("big_value"),
    )
    recency = F.struct(F.col("ts"), F.col("event_id"))
    golden = src.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.max_by(
            "last_action",
            F.when(F.col("last_action").isNotNull(), recency),
        ).alias("last_action"),
        F.max_by(
            "big_value",
            F.when(F.col("big_value").isNotNull(), recency),
        ).alias("big_value"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return golden.select(
        "user_id",
        F.unix_micros("last_seen").cast("long").alias("last_seen_us"),
        "last_action",
        F.round(F.coalesce(F.col("big_value"), F.lit(0.0)), 2).alias(
            "last_big_value"
        ),
        "n_sources",
    ).orderBy("user_id")


@query(
    "snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey < 4000),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             round(o_totalprice * CASE WHEN o_orderkey % 10 = 0
                                       THEN 1.1 ELSE 1.0 END, 2) AS price
      FROM orders WHERE o_orderkey < 4500 AND o_orderkey % 7 <> 0)
    SELECT change, count(*) AS n FROM (
      SELECT CASE
               WHEN o.o_orderkey IS NULL THEN 'insert'
               WHEN n.o_orderkey IS NULL THEN 'delete'
               WHEN o.price <> n.price
                 OR o.o_orderstatus <> n.o_orderstatus THEN 'update'
               ELSE 'unchanged' END AS change
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
    GROUP BY change ORDER BY change
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC extract by snapshot diff: yesterday's and today's order
    snapshots (deterministically derived from the same base so the
    oracle replays them) full-outer-joined on the business key and
    classified insert / delete / update / unchanged — how change
    capture works when the source system offers no log. One key-hash
    shuffle for the join; at 100 TB both snapshots bucket on the key
    and the diff is co-located."""
    o = Catalog(spark, sf_dir).orders
    old = o.where(F.col("o_orderkey") < 4000).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
    )
    new = (
        o.where(
            (F.col("o_orderkey") < 4500) & (F.col("o_orderkey") % 7 != 0)
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(
                F.col("o_totalprice")
                * F.when(F.col("o_orderkey") % 10 == 0, 1.1).otherwise(
                    1.0
                ),
                2,
            ).alias("price"),
        )
    )
    j = old.alias("o").join(
        new.alias("n"),
        F.col("o.o_orderkey") == F.col("n.o_orderkey"),
        "full_outer",
    )
    change = (
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .when(
            (F.col("o.price") != F.col("n.price"))
            | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus")),
            "update",
        )
        .otherwise("unchanged")
    )
    return (
        j.select(change.alias("change"))
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change")
    )


@query(
    "cdc_apply_changes",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
             o_orderpriority AS val,
             CAST(o_orderdate AS TIMESTAMP) AS ts,
             o_orderkey AS seq
      FROM orders WHERE o_custkey < 50),
    last AS (
      SELECT k, op, val,
             row_number() OVER (PARTITION BY k
                 ORDER BY ts DESC, seq DESC) AS rn
      FROM changes)
    SELECT k, val FROM last WHERE rn = 1 AND op <> 'D'
    ORDER BY k
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply without an ACID table format: an ordered change stream
    (upserts + deletes, deterministically derived from orders) is
    collapsed last-writer-wins per key — row_number over (ts, seq)
    descending, keep rn=1, drop keys whose final op is a delete. This
    is the MERGE INTO substitute pattern (cf. merge_upsert) and the
    compaction step every log-structured ingest runs; one key shuffle,
    and the same window also serves dedup-by-latest."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_custkey") < 50)
    changes = o.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 11 == 0, "D")
        .otherwise("U")
        .alias("op"),
        F.col("o_orderpriority").alias("val"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.col("o_orderkey").alias("seq"),
    )
    w = Window.partitionBy("k").orderBy(
        F.col("ts").desc(), F.col("seq").desc()
    )
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("k", "val")
        .orderBy("k")
    )


@query(
    "scd2_dimension",
    oracle="""
    WITH h AS (
      SELECT o_custkey, o_orderpriority,
             CAST(o_orderdate AS TIMESTAMP) AS od,
             o_orderkey
      FROM orders WHERE o_custkey < 100),
    changes AS (
      SELECT o_custkey, o_orderpriority, od, o_orderkey,
             lag(o_orderpriority) OVER w AS prev_prio
      FROM h WINDOW w AS (PARTITION BY o_custkey
                          ORDER BY od, o_orderkey)),
    versions AS (
      SELECT o_custkey, o_orderpriority, od, o_orderkey
      FROM changes
      WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority)
    SELECT o_custkey,
           o_orderpriority AS attr,
           od AS valid_from,
           coalesce(lead(od) OVER (PARTITION BY o_custkey
                                   ORDER BY od, o_orderkey),
                    TIMESTAMP '2200-01-01') AS valid_to,
           (lead(od) OVER (PARTITION BY o_custkey
                           ORDER BY od, o_orderkey) IS NULL)
               AS is_current
    FROM versions ORDER BY o_custkey, valid_from
    """,
)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: a customer's order-priority history
    is collapsed into versioned [valid_from, valid_to) rows — new
    version only when the attribute CHANGES, open-ended current row,
    the classic warehouse change-tracking shape. Two window passes per
    key partition (change detection, then interval close-off); at
    100 TB both windows share the custkey partitioning so the dimension
    builds with a single shuffle.

    Open-interval sentinel is 2200-01-01, NOT the traditional
    9999-12-31: pandas nanosecond timestamps max out at 2262-04-11, so
    the far-future sentinel is unrepresentable in any pandas-based
    consumer (it killed the r4 driver row before comparison). Interval
    semantics are identical — `is_current` is the authoritative
    open-row marker either way."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("od"), F.col("o_orderkey")
    )
    h = o.select(
        "o_custkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("timestamp").alias("od"),
        "o_orderkey",
    )
    changes = h.withColumn(
        "prev_prio", F.lag("o_orderpriority").over(w)
    ).where(
        F.col("prev_prio").isNull()
        | (F.col("prev_prio") != F.col("o_orderpriority"))
    )
    lead_od = F.lead("od").over(w)
    return (
        changes.select(
            "o_custkey",
            F.col("o_orderpriority").alias("attr"),
            F.col("od").alias("valid_from"),
            F.coalesce(
                lead_od, F.lit("2200-01-01").cast("timestamp")
            ).alias("valid_to"),
            lead_od.isNull().alias("is_current"),
        )
        .orderBy("o_custkey", "valid_from")
    )


@query(
    "incremental_high_watermark",
    oracle="""
    WITH watermark AS (
      SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 7 DAY AS wm
      FROM events),
    increment AS (
      SELECT event_type, count(*) AS n_new,
             round(sum(value), 2) AS value_new
      FROM events, watermark WHERE CAST(ts AS TIMESTAMP) > wm
      GROUP BY event_type)
    SELECT event_type, n_new, value_new FROM increment
    ORDER BY event_type
    """,
)
def incremental_high_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """High-watermark incremental load: only rows newer than the last
    processed timestamp (here: max(ts) - 7 days, derived from the data
    so the oracle replays it) enter the batch — the pattern that turns
    a full-table daily job into an incremental one. The watermark is a
    broadcast scalar; with time-partitioned storage the filter becomes
    partition pruning and the scan touches only new partitions."""
    ev = Catalog(spark, sf_dir).events
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("wm")
    )
    return (
        ev.join(F.broadcast(wm))
        .where(F.col("ts") > F.col("wm"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.round(F.sum("value"), 2).alias("value_new"),
        )
        .orderBy("event_type")
    )


@query(
    "delete_update_emulation",
    oracle="""
    WITH after_delete AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey < 5000 AND NOT o_orderstatus = 'P'),
    after_update AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN cents * 105 // 100 ELSE cents END AS cents
      FROM after_delete)
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM after_update GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def delete_update_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ACID DELETE + UPDATE statement semantics, emulated the way
    every non-ACID lakehouse does it — copy-on-write rewrite: DELETE is
    a filtered rewrite of the table file set, UPDATE a projected
    rewrite, both materialized to a scratch table and read back (so
    the check covers the persisted result, not just the expression).
    With Delta/Iceberg mounted the same statements run natively;
    merge_upsert covers the MERGE third of the triad."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 5000)
    path = scratch_path("acid_emulation", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    # money rides as integer cents through the whole rewrite: per-row
    # double rounding (round(x*1.05, 2)) flips at representational
    # boundaries BETWEEN engines, while integer `div` cannot
    o.withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("long")
    ).write.parquet(path)
    spark.catalog.refreshByPath(path)
    tbl = spark.read.parquet(path)
    # DELETE FROM t WHERE o_orderstatus = 'P'  → filtered rewrite
    deleted = tbl.where(~(F.col("o_orderstatus") == "P"))
    # UPDATE t SET price = price*1.05 WHERE urgent → projected rewrite
    updated = deleted.withColumn(
        "cents",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.expr("cents * 105 div 100"),
        ).otherwise(F.col("cents")),
    )
    out = f"{path}_v2"
    shutil.rmtree(out, ignore_errors=True)
    updated.write.parquet(out)
    spark.catalog.refreshByPath(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


#: the "already materialized" base = orders before this date; the
#: delta batch = orders on/after it (≈ the last TPC-H year).
IVM_CUTOFF = "1998-01-01"

_IVM_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
            // count(*) AS BIGINT) AS avg_cents
FROM orders GROUP BY 1 ORDER BY 1
"""


@query("ivm_delta_aggregate", oracle=_IVM_ORACLE)
def ivm_delta_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a per-priority revenue
    aggregate: the pre-{IVM_CUTOFF} partition plays the MATERIALIZED
    state (sum_cents, n_orders per priority — the algebraic form; a
    materialized avg would be unmergeable), the on/after partition is
    the delta batch reduced to the same partial state, and the
    refresh is a full-outer MERGE of two bounded state tables —
    coalesce + add, never a rescan of the base rows. The oracle
    recomputes from scratch: merge ≡ recompute is exactly the IVM
    correctness contract, and the final avg divides once after the
    merge. At 100 TB the base state is a few rows per group; the
    delta scan is the only data-sized work per refresh."""
    o = Catalog(spark, sf_dir).orders
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def state(df):
        return df.groupBy(
            F.col("o_orderpriority").alias("priority")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("long").alias("s"),
        )

    base = state(o.where(F.col("o_orderdate") < IVM_CUTOFF)).select(
        "priority", F.col("n").alias("n0"), F.col("s").alias("s0")
    )
    delta = state(o.where(F.col("o_orderdate") >= IVM_CUTOFF)).select(
        "priority", F.col("n").alias("n1"), F.col("s").alias("s1")
    )
    merged = base.join(delta, "priority", "full_outer").select(
        "priority",
        (
            F.coalesce(F.col("n0"), F.lit(0))
            + F.coalesce(F.col("n1"), F.lit(0))
        )
        .cast("long")
        .alias("n_orders"),
        (
            F.coalesce(F.col("s0"), F.lit(0))
            + F.coalesce(F.col("s1"), F.lit(0))
        )
        .cast("long")
        .alias("sum_cents"),
    )
    return merged.select(
        "priority",
        "n_orders",
        "sum_cents",
        F.expr("cast(sum_cents div n_orders as bigint)").alias(
            "avg_cents"
        ),
    ).orderBy("priority")


@query(
    "merge_upsert",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1999-01-01'),
    source AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
    merged AS (
      SELECT * FROM source
      UNION ALL
      SELECT t.* FROM target t
      WHERE NOT EXISTS (SELECT 1 FROM source s
                        WHERE s.o_orderkey = t.o_orderkey))
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (Hive ACID / Delta-less idiom): source rows
    win, unmatched target rows survive — anti-join + union, one shuffle
    on the merge key. Overlap window ('98–'99) exercises both the
    update and insert arms."""
    o = Catalog(spark, sf_dir).orders
    target = o.where(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    source = o.where(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    survivors = target.join(source, "o_orderkey", "left_anti")
    merged = source.unionByName(survivors)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------
# credit-card Luhn scan
# --------------------------------------------------------------------

_CC_ORACLE = """
WITH base AS (
  SELECT doc_id, source, text,
         '4' || lpad(CAST(doc_id * 37 % 100000000000000 AS VARCHAR),
                     14, '0') AS b15
  FROM documents),
luhn AS (
  SELECT doc_id, source, text, b15,
         CAST(
           list_reduce(
             list_transform(
               string_split(reverse(b15), ''),
               (c, i) -> CASE WHEN i % 2 = 1
                 THEN CASE WHEN CAST(c AS INT) * 2 > 9
                           THEN CAST(c AS INT) * 2 - 9
                           ELSE CAST(c AS INT) * 2 END
                 ELSE CAST(c AS INT) END),
             (a, b) -> a + b) AS BIGINT) AS s
  FROM base),
injected AS (
  SELECT source,
         CASE WHEN doc_id % 5 = 0
                THEN text || ' card ' || b15
                     || CAST((10 - s % 10) % 10 AS VARCHAR)
              WHEN doc_id % 5 = 1
                THEN text || ' card ' || b15
                     || CAST(((10 - s % 10) % 10 + 5) % 10 AS VARCHAR)
              ELSE text END AS t2
  FROM luhn),
scanned AS (
  SELECT source, t2,
         regexp_extract(t2, '4[0-9]{15}') AS cand
  FROM injected),
verd AS (
  SELECT source,
         CASE WHEN cand <> '' THEN 1 ELSE 0 END AS found,
         CASE WHEN cand <> '' AND
           list_reduce(
             list_transform(
               string_split(reverse(cand), ''),
               (c, i) -> CASE WHEN i % 2 = 0
                 THEN CASE WHEN CAST(c AS INT) * 2 > 9
                           THEN CAST(c AS INT) * 2 - 9
                           ELSE CAST(c AS INT) * 2 END
                 ELSE CAST(c AS INT) END),
             (a, b) -> a + b) % 10 = 0
          THEN 1 ELSE 0 END AS valid
  FROM scanned)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(found) AS BIGINT) AS n_candidates,
       CAST(sum(valid) AS BIGINT) AS n_luhn_valid
FROM verd GROUP BY source ORDER BY source
"""


@query("creditcard_luhn_scan", oracle=_CC_ORACLE)
def creditcard_luhn_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan for card numbers: regex candidates ('4' + 15 digits)
    validated with the Luhn checksum — the validation step is what
    separates a card detector from a number detector (phone/ID
    digit runs fail Luhn 90% of the time). The corpus carries none,
    so numbers are INJECTED deterministically: every 5th doc gets a
    VALID card (check digit computed from the Luhn fold), the next
    5th gets the same number with the check digit shifted by 5
    (never valid). Spark validates with the luhn_check builtin; the
    oracle replays the fold with list_reduce — indices 1-based in
    DuckDB, so the doubled positions flip between the b15 fold
    (building, odd i) and the 16-digit fold (validating, even i)."""
    d = Catalog(spark, sf_dir).documents
    base = d.select(
        "doc_id",
        "source",
        "text",
        F.expr(
            "concat('4', lpad(CAST(doc_id * 37 % 100000000000000"
            " AS STRING), 14, '0'))"
        ).alias("b15"),
    )
    # Luhn sum of the 15-digit base, doubling from the rightmost
    # digit (position 1 of the reversed string)
    luhn_sum_b15 = (
        "aggregate(transform(split(reverse(b15), ''),"
        " (c, i) -> CASE WHEN i % 2 = 0"
        "   THEN CASE WHEN CAST(c AS INT) * 2 > 9"
        "        THEN CAST(c AS INT) * 2 - 9"
        "        ELSE CAST(c AS INT) * 2 END"
        "   ELSE CAST(c AS INT) END),"
        " 0, (a, b) -> a + b)"
    )
    injected = base.select(
        "source",
        F.expr(
            f"CASE WHEN doc_id % 5 = 0"
            f" THEN concat(text, ' card ', b15,"
            f"   CAST((10 - {luhn_sum_b15} % 10) % 10 AS STRING))"
            f" WHEN doc_id % 5 = 1"
            f" THEN concat(text, ' card ', b15,"
            f"   CAST(((10 - {luhn_sum_b15} % 10) % 10 + 5) % 10"
            f"        AS STRING))"
            f" ELSE text END"
        ).alias("t2"),
    )
    scanned = injected.select(
        "source",
        F.regexp_extract("t2", "4[0-9]{15}", 0).alias("cand"),
    )
    verd = scanned.select(
        "source",
        F.when(F.col("cand") != "", 1).otherwise(0).alias("found"),
        F.when(
            (F.col("cand") != "") & F.expr("luhn_check(cand)"), 1
        )
        .otherwise(0)
        .alias("valid"),
    )
    return (
        verd.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("found").cast("long").alias("n_candidates"),
            F.sum("valid").cast("long").alias("n_luhn_valid"),
        )
        .orderBy("source")
    )

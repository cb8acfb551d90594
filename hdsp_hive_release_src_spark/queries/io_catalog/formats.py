"""IO and catalog domain: file formats, data sources and sinks.

CSV/JSON/ORC/Parquet/text/binaryFile round trips and options,
partitioned and dynamic-overwrite writes, bloom-filter writes, schema
evolution and merge, and the Python DataSource API.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import ORDER_CENTS, Catalog
from hdsp_hive_release_src_spark.registry import query
from hdsp_hive_release_src_spark.sources.io import (
    fresh_managed_table,
    roundtrip_csv,
    roundtrip_json,
    roundtrip_orc,
    scratch_path,
    write_partitioned,
)
from hdsp_hive_release_src_spark.sources.python_datasources import (
    KVLogSink,
    KVLogSource,
)


@query(
    "orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue,
           round(avg(l_discount), 6) AS avg_disc
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ORC (Hive's native format) → read back → aggregate;
    value parity vs the original parquet proves a lossless round trip
    including timestamps and doubles."""
    li = Catalog(spark, sf_dir).lineitem
    back = roundtrip_orc(li, "orc_lineitem", sf_dir)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "csv_roundtrip",
    oracle="""
    SELECT p_type, count(*) AS n, round(avg(p_retailprice), 4) AS avg_price
    FROM part GROUP BY p_type ORDER BY p_type
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → csv → read back (explicit schema) → aggregate."""
    p = Catalog(spark, sf_dir).part
    back = roundtrip_csv(p, "csv_part", sf_dir)
    return (
        back.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .orderBy("p_type")
    )


@query(
    "json_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS total,
           CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS first_order_us
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → json lines → read back (explicit schema; timestamps
    survive via ISO-8601) → aggregate."""
    o = Catalog(spark, sf_dir).orders
    back = roundtrip_json(o, "json_orders", sf_dir)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            # parquet stores o_orderdate as NTZ; cast → LTZ (UTC session)
            # before unix_micros
            F.min(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
            .cast("long")
            .alias("first_order_us"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "csv_permissive_parse",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_corrupt
    FROM part
    """,
)
def csv_permissive_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift tolerance: a CSV with 3 injected malformed rows is
    read in PERMISSIVE mode with a _corrupt_record column — good rows
    parse, bad rows are captured, nothing is silently dropped. At
    100 TB ingest this is the difference between a poisoned batch
    killing the job and a quarantine column you can audit."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    p = Catalog(spark, sf_dir).part
    path = scratch_path("csv_dirty_part", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    p.write.option("header", True).csv(path)
    # inject malformed lines (wrong arity / non-numeric key)
    with open(f"{path}/zz_bad_rows.csv", "w") as f:  # no "_" prefix: Hadoop hides those
        f.write("p_partkey,p_name,p_brand,p_type,p_size,p_retailprice\n")
        f.write("not_a_number,x,y,z,1,1.0\n")
        f.write("1,only,two\n")
        f.write("2,bad,size,PROMO,not_int,9.99\n")
    # the Spark write above refreshed (and re-listed) the path BEFORE
    # the hand-injected file existed; without an explicit refresh the
    # session's file-status cache hides zz_bad_rows.csv on re-read and
    # the corrupt count silently drops to 0 (also drops any stale
    # InMemoryRelation a prior run of this query cached over the path).
    spark.catalog.refreshByPath(path)
    schema = (
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double, _corrupt_record string"
    )
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()  # one pass; _corrupt_record requires referencing raw
    )
    return back.agg(
        F.count_if(F.col("_corrupt_record").isNull()).cast("long").alias(
            "n_good"
        ),
        F.count_if(F.col("_corrupt_record").isNotNull())
        .cast("long")
        .alias("n_corrupt"),
    )


@query(
    "dynamic_partition_overwrite",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue,
           round(sum(CASE WHEN l_returnflag = 'R' THEN 0.0
                          ELSE l_discount END), 4) AS sum_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hive's daily-ETL idiom: INSERT OVERWRITE of ONE partition.
    partitionOverwriteMode=dynamic replaces only the partitions present
    in the incoming frame — here the 'R' partition is rewritten with
    zeroed discounts while 'A'/'N' must survive untouched. The read-back
    aggregates ALL partitions, so the oracle (original table with only
    R's discounts zeroed) fails if the overwrite either missed R or
    clobbered the siblings (static mode would leave R only). At 100 TB
    this is how a day's partition is re-stated without touching the
    other ~3650."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    li = Catalog(spark, sf_dir).lineitem
    path = scratch_path("dynpart_lineitem", sf_dir)
    # rebuild the base table each run so the query is idempotent
    shutil.rmtree(path, ignore_errors=True)
    li.write.partitionBy("l_returnflag").parquet(path)

    restated = li.where(F.col("l_returnflag") == "R").withColumn(
        "l_discount", F.lit(0.0)
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        restated.write.mode("overwrite").partitionBy(
            "l_returnflag"
        ).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    back = spark.read.parquet(path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.round(F.sum("l_discount"), 4).alias("sum_disc"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "multi_insert",
    oracle="""
    WITH hi AS (SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
                FROM orders WHERE o_totalprice > 300000),
    lo AS (SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
           FROM orders WHERE o_totalprice <= 50000)
    SELECT 'high' AS bucket, n, total FROM hi
    UNION ALL SELECT 'low' AS bucket, n, total FROM lo
    ORDER BY bucket
    """,
)
def multi_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive multi-insert: FROM src INSERT OVERWRITE t1 ... INSERT
    OVERWRITE t2 ... — one statement fanning a single source scan into
    several sinks. The statement itself is the surface under test (run
    as raw HiveQL); both sinks are read back and summarized so the
    oracle checks what actually landed in each."""
    cat = Catalog(spark, sf_dir)
    cat.orders.createOrReplaceTempView("mi_orders_src")
    for t in ("mi_high", "mi_low"):
        fresh_managed_table(spark, t)
        spark.sql(
            f"CREATE TABLE {t} (o_orderkey BIGINT, o_totalprice DOUBLE)"
            " USING parquet"
        )
    spark.sql(
        """
        FROM mi_orders_src
        INSERT OVERWRITE TABLE mi_high
          SELECT o_orderkey, o_totalprice WHERE o_totalprice > 300000
        INSERT OVERWRITE TABLE mi_low
          SELECT o_orderkey, o_totalprice WHERE o_totalprice <= 50000
        """
    )
    return spark.sql(
        """
        SELECT 'high' AS bucket, count(*) AS n,
               round(sum(o_totalprice), 2) AS total FROM mi_high
        UNION ALL
        SELECT 'low' AS bucket, count(*) AS n,
               round(sum(o_totalprice), 2) AS total FROM mi_low
        ORDER BY bucket
        """
    )


@query(
    "insert_overwrite_directory",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def insert_overwrite_directory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hive INSERT OVERWRITE DIRECTORY: SQL writes query output
    straight to a filesystem path — no table object — the hand-off
    idiom to downstream non-SQL consumers. The export is read back and
    aggregated; parity vs the source table proves it is lossless."""
    from hdsp_hive_release_src_spark.sources.io import scratch_path

    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "iod_orders_src"
    )
    path = scratch_path("iod_export", sf_dir)
    spark.sql(
        f"""
        INSERT OVERWRITE DIRECTORY '{path}' USING parquet
        SELECT o_orderpriority, o_totalprice
        FROM iod_orders_src WHERE o_orderstatus = 'F'
        """
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "regex_serde_parse",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def regex_serde_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive RegexSerDe-style text ingestion: events are serialized to
    pipe-delimited log lines, read back as raw text, and re-parsed with
    regexp_extract into typed columns (the pattern for reading legacy
    log formats without a SerDe jar). Doubles survive the text round
    trip via Spark's shortest-repr cast; the oracle aggregates the
    ORIGINAL table, so any parse loss breaks parity."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    ev = Catalog(spark, sf_dir).events
    path = scratch_path("regex_serde_events", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    (
        ev.select(
            F.concat_ws(
                "|",
                F.col("event_id").cast("string"),
                F.col("event_type"),
                F.col("value").cast("string"),
            ).alias("value")
        ).write.text(path)
    )
    raw = spark.read.text(path)
    pat = r"^(\d+)\|([a-z_]+)\|(.*)$"
    parsed = raw.select(
        F.regexp_extract("value", pat, 1).cast("long").alias("event_id"),
        F.regexp_extract("value", pat, 2).alias("event_type"),
        F.regexp_extract("value", pat, 3).cast("double").alias("value"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .orderBy("event_type")
    )


@query(
    "partitioned_sink_prune",
    oracle="""
    SELECT l_linestatus, count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def partitioned_sink_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → parquet partitioned by l_returnflag → read back
    filtering one partition. The filter must prune at the file-listing
    level (asserted in tests/test_sources.py), reading 1/3 of the data
    — the mechanism that makes a 100 TB table queryable by date/flag."""
    li = Catalog(spark, sf_dir).lineitem
    path = write_partitioned(li, "l_returnflag", "part_lineitem", sf_dir)
    back = spark.read.parquet(path).where(F.col("l_returnflag") == "R")
    return (
        back.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "compact_small_files",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(LEAST(4, count(*)) AS BIGINT) AS n_files_after
    FROM orders WHERE o_orderkey < 8000
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the nightly chore of every streaming
    ingest: a deliberately fragmented table (40 shards) rewritten to a
    fixed file count with repartition before the write. Content must
    survive byte-exact (row count + key checksum vs the source), and
    the file count is read back from disk, proving the layout change
    actually happened. At 100 TB you'd target a file SIZE
    (maxRecordsPerFile / AQE coalescing) rather than a count, and
    compact per partition."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 8000)
    frag = scratch_path("compact_frag", sf_dir)
    tidy = scratch_path("compact_tidy", sf_dir)
    for p in (frag, tidy):
        shutil.rmtree(p, ignore_errors=True)
    o.repartition(40).write.parquet(frag)
    spark.catalog.refreshByPath(frag)
    spark.read.parquet(frag).repartition(4).write.parquet(tidy)
    spark.catalog.refreshByPath(tidy)
    back = spark.read.parquet(tidy)
    n_files = back.select(
        F.count_distinct(F.col("_metadata.file_path")).alias("nf")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    ).join(F.broadcast(n_files)).select(
        "n_rows", "key_sum", F.col("nf").cast("long").alias("n_files_after")
    )


@query(
    "metadata_columns",
    oracle="""
    SELECT CAST(LEAST(3, count(*)) AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS sizes_positive
    FROM orders WHERE o_orderkey < 6000
    """,
)
def metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (_metadata.file_path / file_size) —
    the lineage surface ingest auditing reads (which file did this row
    come from, was the file non-empty) without a separate listing job.
    A 3-shard scratch table proves the per-file attribution: distinct
    file count, total rows, and positive file sizes."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 6000)
    path = scratch_path("meta_cols", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    o.repartition(3).write.parquet(path)
    spark.catalog.refreshByPath(path)
    back = spark.read.parquet(path)
    return back.agg(
        F.count_distinct(F.col("_metadata.file_path"))
        .cast("long")
        .alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.bool_and(F.col("_metadata.file_size") > 0).alias(
            "sizes_positive"
        ),
    )


@query(
    "csv_options_matrix",
    oracle="""
    SELECT p_brand, count(*) AS n,
           round(sum(p_retailprice), 2) AS total_price,
           CAST(sum(CASE WHEN p_name LIKE '%;%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_delim
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
)
def csv_options_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV option surface that breaks real ingests: a custom ';'
    delimiter, quoting (values CONTAINING the delimiter are injected
    so the quote path provably exercises), a custom escape char, and
    nullValue round-tripping. Written and read back with the same
    option set; parity against the ORIGINAL table proves nothing was
    split, swallowed, or mis-escaped. The n_with_delim column counts
    the injected delimiter-bearing names — non-zero by construction,
    so a quoting failure cannot pass silently."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    p = Catalog(spark, sf_dir).part.withColumn(
        "p_name",
        F.when(
            F.col("p_partkey") % 7 == 0,
            F.concat(F.col("p_name"), F.lit("; extra")),
        ).otherwise(F.col("p_name")),
    )
    path = scratch_path("csv_options_part", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    opts = {
        "header": "true",
        "sep": ";",
        "quote": '"',
        "escape": "\\",
        "nullValue": "\\N",
    }
    w = p.write
    for k, v in opts.items():
        w = w.option(k, v)
    w.csv(path)
    spark.catalog.refreshByPath(path)
    r = spark.read.schema(p.schema)
    for k, v in opts.items():
        r = r.option(k, v)
    back = r.csv(path)
    return (
        back.withColumn(
            "p_name", F.regexp_replace("p_name", "; extra$", "")
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("p_retailprice"), 2).alias("total_price"),
            F.sum(F.col("p_name").contains(";").cast("int"))
            .cast("long")
            .alias("n_with_delim"),
        )
        .orderBy("p_brand")
    )


@query(
    "parquet_compression_codecs",
    oracle="""
    SELECT 'gzip' AS codec, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey < 3000
    UNION ALL
    SELECT 'snappy', count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey < 3000
    UNION ALL
    SELECT 'zstd', count(*), CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey < 3000
    ORDER BY codec
    """,
)
def parquet_compression_codecs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet compression codec round trips — gzip (max ratio),
    snappy (the default), zstd (the modern ratio/speed tradeoff each
    new warehouse standardizes on): each codec writes and reads back
    content-identically (count + key checksum vs the source). At
    100 TB codec choice is a double-digit-percent storage/scan-cost
    decision; what this query pins is that it is ONLY a storage
    decision — values are bit-identical through every codec."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 3000)
    frames = []
    for codec in ("gzip", "snappy", "zstd"):
        path = scratch_path(f"codec_{codec}", sf_dir)
        shutil.rmtree(path, ignore_errors=True)
        o.write.option("compression", codec).parquet(path)
        spark.catalog.refreshByPath(path)
        back = spark.read.parquet(path)
        frames.append(
            back.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            ).select(F.lit(codec).alias("codec"), "n", "key_sum")
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("codec")


@query(
    "unicode_roundtrip",
    oracle="""
    SELECT doc_id,
           length(text || ' — häßlich ✓ 北京 🚀') AS n_chars,
           octet_length(encode(text || ' — häßlich ✓ 北京 🚀'))
               AS n_bytes,
           md5(text || ' — häßlich ✓ 北京 🚀') AS digest
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def unicode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 integrity through a JSON write/read round trip: every doc
    gets a multibyte suffix (Latin-1 supplement, dingbat, CJK, and a
    4-byte emoji — one of each UTF-8 width class), round-trips
    through the JSON-lines sink, and must come back with identical
    CHARACTER length, BYTE length, and md5 — the three ways encoding
    corruption (mojibake, truncation, surrogate mangling) shows up.
    char length ≠ byte length by construction here, so an engine
    conflating them cannot pass."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    d = Catalog(spark, sf_dir).documents.where(F.col("doc_id") < 200)
    tagged = d.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" — häßlich ✓ 北京 🚀")).alias(
            "text"
        ),
    )
    path = scratch_path("unicode_docs", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    tagged.write.json(path)
    spark.catalog.refreshByPath(path)
    back = spark.read.schema("doc_id long, text string").json(path)
    return back.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.length(F.encode("text", "utf-8")).cast("long").alias(
            "n_bytes"
        ),
        F.md5(F.encode("text", "utf-8")).alias("digest"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# multiLine JSON source
# --------------------------------------------------------------------

@query(
    "multiline_json_source",
    oracle="""
    SELECT n_regionkey, count(*) AS n,
           min(n_name) AS first_nation,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def multiline_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiLine JSON read: one pretty-printed JSON ARRAY file (the
    config-dump / API-export shape that line-oriented JSON readers
    reject) parsed with multiLine=true and an explicit schema. The
    staging collect is the 25-row nation table — bounded metadata
    scale by construction. At 100 TB multiLine files are the
    exception path (each file is one task — no intra-file split), so
    the engine keeps them for small config/dimension drops exactly
    like this one, never for the fact stream."""
    n = Catalog(spark, sf_dir).nation
    rows = [r.asDict() for r in n.orderBy("n_nationkey").collect()]
    path = scratch_path("multiline_nation", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    import os

    os.makedirs(path, exist_ok=True)
    with open(f"{path}/nation.json", "w") as f:
        json.dump(rows, f, indent=2, default=str)
    spark.catalog.refreshByPath(path)
    back = (
        spark.read.schema(
            "n_nationkey long, n_name string, n_regionkey long, "
            "n_comment string"
        )
        .option("multiLine", "true")
        .json(path)
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_name").alias("first_nation"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
        .orderBy("n_regionkey")
    )


# --------------------------------------------------------------------
# multi-char-delimiter CSV (Hive MultiDelimitSerDe parity)
# --------------------------------------------------------------------

@query(
    "multichar_delim_csv",
    oracle="""
    SELECT s_nationkey, count(*) AS n,
           round(sum(s_acctbal), 2) AS total_bal,
           min(s_name) AS first_supplier
    FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """,
)
def multichar_delim_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-character field delimiter ('||') — Hive's
    MultiDelimitSerDe surface, which single-char CSV readers can't
    parse. Spark's CSV source takes a multi-char ``sep`` directly:
    write supplier rows as '||'-joined text, read back with an
    explicit schema, aggregate; value parity vs the original parquet
    proves lossless round trip including doubles. Map-only write +
    scan — no shuffle until the final keyed agg."""
    s = Catalog(spark, sf_dir).supplier
    path = scratch_path("multidelim_supplier", sf_dir)
    (
        s.select(
            F.concat_ws(
                "||",
                F.col("s_suppkey").cast("string"),
                "s_name",
                F.col("s_nationkey").cast("string"),
                F.col("s_acctbal").cast("string"),
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    back = (
        spark.read.schema(
            "s_suppkey long, s_name string, s_nationkey long, "
            "s_acctbal double"
        )
        .option("sep", "||")
        .csv(path)
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
            F.min("s_name").alias("first_supplier"),
        )
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------
# JSON corrupt-record quarantine
# --------------------------------------------------------------------

@query(
    "json_corrupt_record",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_corrupt,
           CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders WHERE o_orderkey < 2000
    """,
)
def json_corrupt_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON parse with a _corrupt_record quarantine column
    (the JSON twin of csv_permissive_parse): 3 injected malformed
    lines (truncated object, bare text, wrong-type key) are captured,
    good rows parse, nothing is silently dropped — the sum over a
    parsed money column proves the good rows carry correct VALUES,
    not just the right count. At 100 TB ingest the quarantine column
    is what separates a poisoned batch from a dead pipeline."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 2000)
    path = scratch_path("json_dirty_orders", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    o.select("o_orderkey", "o_totalprice").write.json(path)
    with open(f"{path}/zz_bad_rows.json", "w") as f:
        f.write('{"o_orderkey": 1, "o_totalprice":\n')
        f.write("this is not json at all\n")
        f.write('{"o_orderkey": "NaN---", "o_totalprice": "x"}\n')
    spark.catalog.refreshByPath(path)
    back = (
        spark.read.schema(
            "o_orderkey long, o_totalprice double, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()  # _corrupt_record requires one pass over raw
    )
    return back.agg(
        F.count_if(F.col("_corrupt_record").isNull())
        .cast("long")
        .alias("n_good"),
        F.count_if(F.col("_corrupt_record").isNotNull())
        .cast("long")
        .alias("n_corrupt"),
        F.sum(
            F.when(
                F.col("_corrupt_record").isNull(),
                F.round(F.col("o_totalprice") * 100).cast("long"),
            )
        )
        .cast("long")
        .alias("total_cents"),
    )


# --------------------------------------------------------------------
# parquet bloom-filter write options
# --------------------------------------------------------------------

@query(
    "parquet_bloom_filter_write",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents,
           true AS bloom_overhead_positive
    FROM orders
    """,
)
def parquet_bloom_filter_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bloom-filter write path: the per-column
    ``parquet.bloom.filter.enabled#col`` / ``expected.ndv#col`` writer
    options (the Hive/Spark point-lookup accelerator — at 100 TB a
    bloom on the probe key lets the scanner skip whole row groups on
    equality predicates without reading the dictionary). pyarrow 16 /
    DuckDB 1.0 can't introspect the bloom header, so presence is
    proven by the byte overhead: an otherwise-identical write WITHOUT
    the option must be strictly smaller. Value parity of the
    read-back proves the data pages are untouched. NOTE (measured on
    this parquet-mr build): the per-column ``enabled#col`` toggle is
    ignored by the DataFrame writer — the working recipe is the
    GLOBAL ``parquet.bloom.filter.enabled`` plus per-column
    ``expected.ndv#col`` sizing and a ``max.bytes`` cap (without the
    cap, default-NDV blooms add ~2 MB per column chunk)."""
    o = Catalog(spark, sf_dir).orders.repartition(2, "o_orderkey")
    p_on = scratch_path("bloom_on_r9", sf_dir)
    p_off = scratch_path("bloom_off_r9", sf_dir)
    (
        o.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        .option("parquet.bloom.filter.max.bytes", "65536")
        .parquet(p_on)
    )
    o.write.mode("overwrite").parquet(p_off)

    def _bytes(root: str) -> int:
        tot = 0
        for d, _, fs in os.walk(root):
            tot += sum(
                os.path.getsize(os.path.join(d, f))
                for f in fs
                if f.endswith(".parquet")
            )
        return tot

    overhead = _bytes(p_on) - _bytes(p_off)
    back = spark.read.parquet(p_on)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(ORDER_CENTS)).alias("cents"),
        F.lit(overhead > 0).alias("bloom_overhead_positive"),
    )


# --------------------------------------------------------------------
# text source: lineSep / wholetext options
# --------------------------------------------------------------------

@query(
    "text_source_options",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(strlen(text)) AS BIGINT) AS sum_len,
           CAST(1 AS BIGINT) AS n_wholetext_rows,
           CAST(sum(strlen(text)) + count(*) AS BIGINT)
               AS wholetext_len
    FROM documents
    """,
)
def text_source_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text source option matrix: write the corpus with a custom
    record separator (0x1E, safe for newline-bearing text), read it
    back split on that separator, and read the same file with
    ``wholetext`` (one row per FILE — the mode for whole-document
    formats). The writer terminates every record with the separator,
    so wholetext length = sum of line lengths + one separator per
    line; coalesce(1) pins the wholetext row count. At scale,
    wholetext rows are unsplittable — the plumbing exists for
    doc-per-file corpora, not for the hot path."""
    docs = Catalog(spark, sf_dir).documents
    path = scratch_path("text_sep_docs_r9", sf_dir)
    (
        docs.select("text")
        .coalesce(1)
        .write.mode("overwrite")
        .option("lineSep", "\x1e")
        .text(path)
    )
    lines = spark.read.option("lineSep", "\x1e").text(path)
    whole = spark.read.option("wholetext", True).text(path)
    lm = lines.where(F.length("value") > 0).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("sum_len"),
    )
    wm = whole.agg(
        F.count(F.lit(1)).alias("n_wholetext_rows"),
        F.sum(F.length("value")).alias("wholetext_len"),
    )
    return lm.crossJoin(wm)


# --------------------------------------------------------------------
# ORC bloom filter write
# --------------------------------------------------------------------

@query(
    "orc_bloom_filter_write",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents,
           true AS bloom_overhead_positive
    FROM orders
    """,
)
def orc_bloom_filter_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC bloom-filter writer options (orc.bloom.filter.columns /
    fpp) — the columnar sibling of parquet_bloom_filter_write, same
    presence proof: the bloom-enabled file set must be strictly
    larger byte-wise than an otherwise-identical write, and the
    read-back must match the source exactly (data stripes
    untouched). ORC blooms serve the same 100 TB role: point-lookup
    predicates skip whole stripes without reading them."""
    o = Catalog(spark, sf_dir).orders.repartition(2, "o_orderkey")
    p_on = scratch_path("orc_bloom_on_r9", sf_dir)
    p_off = scratch_path("orc_bloom_off_r9", sf_dir)
    (
        o.write.mode("overwrite")
        .option("orc.bloom.filter.columns", "o_custkey")
        .option("orc.bloom.filter.fpp", "0.05")
        .orc(p_on)
    )
    o.write.mode("overwrite").orc(p_off)

    def _bytes(root: str) -> int:
        tot = 0
        for dd, _, fs in os.walk(root):
            tot += sum(
                os.path.getsize(os.path.join(dd, f))
                for f in fs
                if f.endswith(".orc")
            )
        return tot

    overhead = _bytes(p_on) - _bytes(p_off)
    back = spark.read.orc(p_on)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(ORDER_CENTS)).alias("cents"),
        F.lit(overhead > 0).alias("bloom_overhead_positive"),
    )


# --------------------------------------------------------------------
# CSV quoting/escape round trip
# --------------------------------------------------------------------

@query(
    "csv_write_quote_escape_matrix",
    oracle="""
    WITH adv AS (
      SELECT p_partkey,
             p_name || ',"q' || chr(10) || 'line\\' AS s
      FROM part)
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(strlen(s)) AS BIGINT) AS sum_len,
           CAST(count(DISTINCT s) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN contains(s, chr(10))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_multiline
    FROM adv
    """,
)
def csv_write_quote_escape_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV writer quoting/escape contract on ADVERSARIAL content:
    every row embeds the delimiter, a double quote, a newline, and a
    backslash. Written with quoteAll + doubled-quote escaping, read
    back with multiLine=true (quoted newlines span physical lines) —
    the checksum (count, total length, distincts, embedded-newline
    count) must survive the round trip exactly. multiLine=true makes
    a file unsplittable, which is the price of newline-bearing CSV
    at scale — the docstring-level guidance is to prefer parquet for
    such columns and reserve this path for ingest of third-party
    dumps."""
    p = Catalog(spark, sf_dir).part
    adv = p.select(
        "p_partkey",
        F.concat(
            F.col("p_name"), F.lit(',"q\nline\\')
        ).alias("s"),
    )
    path = scratch_path("csv_adv_r9", sf_dir)
    (
        adv.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .option("escape", '"')
        .csv(path)
    )
    back = (
        spark.read.schema("p_partkey long, s string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("s")).cast("long").alias("sum_len"),
        F.countDistinct("s").cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("s").contains("\n"), 1).otherwise(0))
        .cast("long")
        .alias("n_multiline"),
    )


# --------------------------------------------------------------------
# gzip JSON-lines round trip
# --------------------------------------------------------------------

@query(
    "json_lines_gzip_roundtrip",
    oracle=f"""
    SELECT o_orderpriority AS pri,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents
    FROM orders GROUP BY pri ORDER BY pri
    """,
)
def json_lines_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source with gzip codec: the compression option
    must be transparent to the reader (Spark decompresses by
    extension). Value parity against the ORIGINAL parquet proves the
    round trip lossless through both the JSON codec and gzip. Note
    for 100 TB: gzip text is NOT splittable — one file = one task —
    so the pipeline guidance is many medium files (the write fan-out
    here) rather than one large one."""
    o = Catalog(spark, sf_dir).orders
    path = scratch_path("json_gz_r9", sf_dir)
    (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.expr(ORDER_CENTS).alias("cents"),
        )
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(path)
    )
    back = spark.read.schema(
        "o_orderkey long, o_orderpriority string, cents long"
    ).json(path)
    return (
        back.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("pri")
    )


@query(
    "binaryfile_source",
    oracle="""
    SELECT 'blob_' || p_partkey || '.bin' AS fname,
           CAST(strlen(p_name) AS BIGINT) AS n_bytes,
           CAST(ord(p_name[1:1]) AS BIGINT) AS first_byte
    FROM part WHERE p_partkey < 40 ORDER BY fname
    """,
)
def binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile ingestion source — how raw media lands in the engine:
    opaque files on disk read as (path, modificationTime, length,
    content) rows. A deterministic blob set is staged from the part
    table, read back via format("binaryFile"), and byte-verified
    against the source strings. At 100 TB the same reader fans object
    storage across executors; pathGlobFilter prunes at listing time."""
    import os
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    p = Catalog(spark, sf_dir).part.where(F.col("p_partkey") < 40)
    path = scratch_path("binary_blobs", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    for pk, name in p.select("p_partkey", "p_name").collect():
        with open(f"{path}/blob_{pk}.bin", "wb") as f:
            f.write(name.encode("utf-8"))
    spark.catalog.refreshByPath(path)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    return blobs.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").cast("long").alias("n_bytes"),
        # payloads are UTF-8 text here, so ascii(first char) IS the
        # first byte; a real media blob would take substring(content)
        F.ascii(F.decode(F.col("content"), "UTF-8"))
        .cast("long")
        .alias("first_byte"),
    ).orderBy("fname")


_KVLOG_ORACLE = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
FROM events GROUP BY user_id ORDER BY user_id
"""


@query("python_datasource_kvlog", oracle=_KVLOG_ORACLE)
def python_datasource_kvlog(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round trip through a USER-DEFINED Python data source: events
    are exported as ';'-delimited key=value log lines (4 text files),
    the custom ``kvlog`` source is registered via
    ``spark.dataSource.register`` and reads them back through one
    input partition per file — the Spark 4.0 extension point for
    formats no built-in reader speaks. The per-user aggregate of the
    re-read rows must equal the same aggregate on the original
    parquet table (oracle) — losslessness, not just readability, is
    gated.
    Python-source reads are Arrow-batched; the parse cost is the
    per-row split, the exact price a custom format pays."""
    ev = Catalog(spark, sf_dir).events
    path = scratch_path("kvlog", sf_dir)
    (
        ev.select(
            F.concat(
                F.lit("e="),
                F.col("event_id"),
                F.lit(";u="),
                F.col("user_id"),
                F.lit(";c="),
                F.round(F.col("value") * 100).cast("long"),
            ).alias("value")
        )
        .repartition(4)
        .write.mode("overwrite")
        .text(path)
    )
    # .txt suffix so the reader's listing skips _SUCCESS markers
    for f in os.listdir(path):
        if f.startswith("part-") and not f.endswith(".txt"):
            os.rename(
                os.path.join(path, f), os.path.join(path, f + ".txt")
            )
    try:
        spark.dataSource.register(KVLogSource)
    except Exception:
        pass  # already registered in this session
    back = spark.read.format("kvlog").option("path", path).load()
    return (
        back.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("user_id")
    )


_PYWRITER_ORACLE = """
SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
FROM events GROUP BY 1 ORDER BY 1
"""


@query("python_datasource_writer", oracle=_PYWRITER_ORACLE)
def python_datasource_writer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The write half of the Python DataSource API: events flow OUT
    through a user-defined ``DataSourceWriter`` (executor-side Python
    writes one kv-log file per partition and sends a commit message
    back — the custom-sink two-phase-commit hook), then back IN
    through the KVLogSource custom reader, and the cohort aggregate must
    equal the same aggregate on the original parquet (oracle): a
    lossless round trip where BOTH directions are user-defined
    format code. Writes go under the repo scratch dir, mode
    idempotent by directory reuse (files keyed on partition id)."""
    ev = Catalog(spark, sf_dir).events
    path = scratch_path("kvlogsink", sf_dir)
    # clear stale files so a re-run with fewer partitions can't leave
    # orphans behind (the writer itself is append-shaped)
    if os.path.isdir(path):
        for f in os.listdir(path):
            os.remove(os.path.join(path, f))
    for src in (KVLogSink, KVLogSource):
        try:
            spark.dataSource.register(src)
        except Exception:
            pass
    (
        ev.select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .repartition(4)
        .write.format("kvlogsink")
        .option("path", path)
        .mode("append")
        .save()
    )
    back = spark.read.format("kvlog").option("path", path).load()
    return (
        back.groupBy((F.col("user_id") % 10).cast("long").alias("cohort"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("cohort")
    )


@query(
    "nested_types_roundtrip",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             string_split(o_orderpriority, '-') AS tags,
             {'status': o_orderstatus,
              'price': round(o_totalprice, 2)} AS meta
      FROM orders WHERE o_orderkey < 2000)
    SELECT count(*) AS n,
           CAST(sum(len(tags)) AS BIGINT) AS total_tags,
           round(sum(meta.price), 2) AS total_price,
           CAST(count(DISTINCT meta.status) AS BIGINT) AS n_status
    FROM src
    """,
)
def nested_types_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type IO: array + struct columns written to parquet and
    read back, with the aggregation running on the PERSISTED nested
    data (dotted struct access, array length) — proves nested schemas
    survive the writer/reader round trip, the prerequisite for every
    document-shaped table. The oracle computes the same from the flat
    source."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 2000)
    nested = o.select(
        "o_orderkey",
        F.split("o_orderpriority", "-").alias("tags"),
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("price"),
        ).alias("meta"),
    )
    path = scratch_path("nested_types", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    nested.write.parquet(path)
    spark.catalog.refreshByPath(path)
    back = spark.read.parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("tags")).cast("long").alias("total_tags"),
        F.round(F.sum("meta.price"), 2).alias("total_price"),
        F.count_distinct("meta.status").alias("n_status"),
    )


@query(
    "schema_evolution_union",
    oracle="""
    SELECT o_orderkey, 'v1' AS src, o_orderstatus,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey < 300
    UNION ALL
    SELECT o_orderkey, 'v2' AS src, o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderkey >= 300 AND o_orderkey < 600
    ORDER BY o_orderkey
    """,
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union across schema drift: a v1 extract (no priority column)
    unioned with a v2 extract via unionByName(allowMissingColumns) —
    absent columns surface as NULL instead of a position-based
    mis-alignment (plain UNION would silently pair the wrong columns).
    The daily reality of long-lived pipelines: readers must survive
    additive schema change."""
    o = Catalog(spark, sf_dir).orders
    v1 = o.where(F.col("o_orderkey") < 300).select(
        "o_orderkey", F.lit("v1").alias("src"), "o_orderstatus"
    )
    v2 = o.where(
        (F.col("o_orderkey") >= 300) & (F.col("o_orderkey") < 600)
    ).select(
        "o_orderkey",
        F.lit("v2").alias("src"),
        "o_orderstatus",
        "o_orderpriority",
    )
    return v1.unionByName(v2, allowMissingColumns=True).orderBy(
        "o_orderkey"
    )


@query(
    "parquet_schema_merge",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           CASE WHEN o_orderkey >= 300 THEN o_orderpriority END
               AS o_orderpriority
    FROM orders WHERE o_orderkey < 600 ORDER BY o_orderkey
    """,
)
def parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level schema evolution: two parquet drops with different
    schemas (the newer adds a column) in one directory, read with
    mergeSchema=true — the unified schema NULL-fills the old files.
    This is how additive evolution works without a table format; at
    100 TB, footer merging is why you set the option only on evolving
    paths (it reads every file's footer at planning)."""
    import shutil

    from hdsp_hive_release_src_spark.sources.io import scratch_path

    o = Catalog(spark, sf_dir).orders
    path = scratch_path("schema_merge_orders", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    (
        o.where(F.col("o_orderkey") < 300)
        .select("o_orderkey", "o_orderstatus")
        .write.parquet(f"{path}/drop=old")
    )
    (
        o.where((F.col("o_orderkey") >= 300) & (F.col("o_orderkey") < 600))
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .write.parquet(f"{path}/drop=new")
    )
    spark.catalog.refreshByPath(path)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/drop=old", f"{path}/drop=new"
    )
    return merged.select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------
# null partition (__HIVE_DEFAULT_PARTITION__) round trip
# --------------------------------------------------------------------

@query(
    "null_partition_handling",
    oracle=f"""
    SELECT CASE WHEN o_custkey % 7 = 0 THEN NULL
                ELSE 'b' || CAST(o_custkey % 3 AS VARCHAR) END
               AS pbucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def null_partition_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL partition values round-trip through Hive's
    ``__HIVE_DEFAULT_PARTITION__`` directory: rows whose partition
    column is NULL land in the default partition on write and read
    back as REAL SQL NULLs (not the sentinel string). At 100 TB the
    null partition is a skew hazard — it concentrates every
    unclassified row in one directory — so reading it back faithfully
    (for an explicit IS NULL repair pass) is the graded behavior.
    Partition pruning on IS NULL is asserted in tests/test_round9.py."""
    o = Catalog(spark, sf_dir).orders
    path = scratch_path("nullpart_orders_r9", sf_dir)
    (
        o.withColumn(
            "pbucket",
            F.when(F.col("o_custkey") % 7 == 0, F.lit(None)).otherwise(
                F.concat(
                    F.lit("b"), (F.col("o_custkey") % 3).cast("string")
                )
            ),
        )
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("pbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(ORDER_CENTS)).alias("cents"),
        )
        .orderBy("pbucket")
    )

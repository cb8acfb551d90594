"""Builtin functions: user-defined function surfaces.

Python and pandas UDFs (scalar, grouped map, grouped aggregate,
cogroup, mapInArrow), Python UDTFs, Hive UDAF/UDTF registration, SQL
UDFs and macros, TRANSFORM scripts and reflect().
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.registry import query


@query(
    "pandas_udf_scalar",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT)
               AS n_word_runs,
           CAST(len(regexp_extract_all(text, '[aeiou]')) AS BIGINT)
               AS n_vowels
    FROM documents ORDER BY doc_id
    """,
)
def pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF: regex feature extraction on Arrow
    string batches (pandas .str ops are C-backed — the sanctioned shape
    when a builtin truly doesn't cover the logic). Map-only at scale."""

    @pandas_udf("long")
    def word_runs(s: pd.Series) -> pd.Series:
        return s.str.count("[a-z]+").astype("int64")

    @pandas_udf("long")
    def vowels(s: pd.Series) -> pd.Series:
        return s.str.count("[aeiou]").astype("int64")

    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        word_runs("text").alias("n_word_runs"),
        vowels("text").alias("n_vowels"),
    ).orderBy("doc_id")


@query(
    "grouped_pandas_quantiles",
    oracle="""
    SELECT c_mktsegment,
           round(quantile_cont(c_acctbal, 0.25), 4) AS q25,
           round(quantile_cont(c_acctbal, 0.50), 4) AS q50,
           round(quantile_cont(c_acctbal, 0.75), 4) AS q75,
           CAST(count(*) AS BIGINT) AS n
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def grouped_pandas_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: each market segment arrives as one
    pandas frame, numpy computes linear-interpolated quartiles
    (identical to SQL quantile_cont / percentile). One shuffle on the
    group key; groups must fit one executor's memory — fine for
    bounded-cardinality dimensions, use approx sketches otherwise."""
    c = Catalog(spark, sf_dir).customer

    def quartiles(pdf: pd.DataFrame) -> pd.DataFrame:
        q25, q50, q75 = np.percentile(pdf["c_acctbal"], [25, 50, 75])
        return pd.DataFrame(
            {
                "c_mktsegment": [pdf["c_mktsegment"].iloc[0]],
                "q25": [round(q25, 4)],
                "q50": [round(q50, 4)],
                "q75": [round(q75, 4)],
                "n": [len(pdf)],
            }
        )

    return (
        c.groupBy("c_mktsegment")
        .applyInPandas(
            quartiles,
            "c_mktsegment string, q25 double, q50 double, q75 double, n long",
        )
        .orderBy("c_mktsegment")
    )


@query(
    "cogroup_pandas_enrich",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS custkey, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total_price
      FROM orders WHERE o_custkey < 200 GROUP BY o_custkey),
    c AS (
      SELECT c_custkey AS custkey, round(c_acctbal, 2) AS acctbal
      FROM customer WHERE c_custkey < 200)
    SELECT coalesce(o.custkey, c.custkey) AS custkey,
           CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
           coalesce(total_price, 0.0) AS total_price,
           coalesce(acctbal, 0.0) AS acctbal
    FROM o FULL OUTER JOIN c ON o.custkey = c.custkey
    ORDER BY custkey
    """,
)
def cogroup_pandas_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas — the one grouped-Pandas surface the
    other UDF queries don't cover: orders and customers cogrouped on
    custkey, each key's two frames handed to one Python function
    (Hive's reduce-side custom-join-script analog). Arrow-batched;
    per-key state only, so executor memory is bounded by the largest
    single key at any corpus size. The full-outer oracle pins the
    union-of-keys semantic (a key present on either side fires the
    function)."""
    cat = Catalog(spark, sf_dir)
    o = cat.orders.where(F.col("o_custkey") < 200).select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = cat.customer.where(F.col("c_custkey") < 200).select(
        F.col("c_custkey").alias("custkey"), "c_acctbal"
    )

    def enrich(key, orders_pdf, cust_pdf):
        n = len(orders_pdf)
        total = float(orders_pdf["o_totalprice"].sum()) if n else 0.0
        bal = float(cust_pdf["c_acctbal"].iloc[0]) if len(cust_pdf) else 0.0
        return pd.DataFrame(
            {
                "custkey": [key[0]],
                "n_orders": [n],
                "total_price": [round(total, 2)],
                "acctbal": [round(bal, 2)],
            }
        )

    return (
        o.groupBy("custkey")
        .cogroup(c.groupBy("custkey"))
        .applyInPandas(
            enrich,
            schema=(
                "custkey long, n_orders long, total_price double, "
                "acctbal double"
            ),
        )
        .orderBy("custkey")
    )


@query(
    "udtf_lateral",
    oracle="""
    SELECT i - 1 AS pos, count(*) AS n,
           CAST(count(DISTINCT ws[i]) AS BIGINT) AS n_distinct
    FROM (SELECT string_split(text, ' ') AS ws FROM documents),
         range(1, 6) r(i)
    WHERE i <= len(ws)
    GROUP BY pos ORDER BY pos
    """,
)
def udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive custom-UDTF registration: a Python table function
    (CREATE FUNCTION → LATERAL VIEW in Hive terms) registered and
    invoked from SQL via LATERAL. Covers the registration surface the
    built-in explode variants can't; the docstring caveat stands — a
    row-based Python UDTF is the slow path, so production pipelines
    should prefer explode/posexplode (see lateral_explode_tokens) and
    reserve UDTFs for genuinely procedural generators."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos int")
    class SplitWords:
        def eval(self, text: str):  # noqa: ANN001 - UDTF protocol
            for i, w in enumerate(text.split(" ")):
                yield (w, i)

    spark.udtf.register("split_words_udtf", SplitWords)
    Catalog(spark, sf_dir).documents.createOrReplaceTempView(
        "udtf_docs_src"
    )
    return spark.sql(
        """
        SELECT pos, count(*) AS n,
               count(DISTINCT token) AS n_distinct
        FROM udtf_docs_src, LATERAL split_words_udtf(text)
        WHERE pos < 5 GROUP BY pos ORDER BY pos
        """
    )


@query(
    "udaf_register",
    oracle="""
    SELECT l_returnflag,
           round(exp(avg(ln(l_extendedprice))), 4) AS geo_mean_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def udaf_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive CREATE AGGREGATE FUNCTION parity: a pandas grouped-agg UDF
    (Arrow batch in, scalar out — the vectorized UDAF shape) registered
    under a SQL name and called with GROUP BY from a SQL string. The
    geometric mean is exp(mean(ln x)), so the oracle replays it with
    builtins; round(4) absorbs summation-order noise. The UDF lives in
    functions/udafs.py: pandas_udf needs REAL type hints (Series ->
    scalar marks it grouped-agg), which this module's postponed
    annotations would stringify."""
    from hdsp_hive_release_src_spark.functions.udafs import geo_mean

    spark.udf.register("geo_mean_udaf", geo_mean)
    Catalog(spark, sf_dir).lineitem.createOrReplaceTempView(
        "udaf_lineitem_src"
    )
    # NOTE: a grouped-agg pandas UDF cannot share an Aggregate with
    # JVM aggregates (INVALID_PANDAS_UDF_PLACEMENT), so it aggregates
    # alone here
    return spark.sql(
        """
        SELECT l_returnflag,
               round(geo_mean_udaf(l_extendedprice), 4)
                   AS geo_mean_price
        FROM udaf_lineitem_src
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


# --------------------------------------------------------------------
# Python UDTF (GenericUDTF parity)
# --------------------------------------------------------------------

@query(
    "udtf_python_lateral",
    oracle="""
    WITH toks AS (
      SELECT lang, x AS token
      FROM documents, unnest(string_split(text, ' ')) AS u(x)
      WHERE x <> ''
    )
    SELECT lang, count(*) AS n_tokens,
           CAST(sum(strlen(token)) AS BIGINT) AS sum_len,
           CAST(count(DISTINCT token) AS BIGINT) AS n_distinct
    FROM toks GROUP BY lang ORDER BY lang
    """,
)
def udtf_python_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF ≡ Hive GenericUDTF parity: a registered table
    function expanded per input row through a LATERAL join in SQL —
    the one-row-in/N-rows-out contract (eval → yield). The UDTF here
    tokenizes documents; the oracle replays it with unnest. NOTE this
    is the UDTF *surface* check — the engine's scale path for
    tokenization is the JVM-side split/explode (lateral_explode_tokens,
    posexplode_tokens); a Python UDTF is row-at-a-time by contract and
    is the right tool only for logic that genuinely needs Python."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, tlen int")
    class TokenizeUDTF:
        def eval(self, text: str):  # noqa: D102 - UDTF contract
            for t in (text or "").split(" "):
                if t:
                    yield t, len(t)

    spark.udtf.register("tokenize_udtf", TokenizeUDTF)
    Catalog(spark, sf_dir).documents.createOrReplaceTempView(
        "docs_udtf_v"
    )
    return spark.sql(
        """
        SELECT lang, count(*) AS n_tokens,
               CAST(sum(t.tlen) AS BIGINT) AS sum_len,
               CAST(count(DISTINCT t.token) AS BIGINT) AS n_distinct
        FROM docs_udtf_v, LATERAL tokenize_udtf(text) AS t
        GROUP BY lang ORDER BY lang
        """
    )


@query(
    "script_transform",
    oracle="""
    SELECT doc_id,
           upper(substring(text, 1, 20)) AS head_upper,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents ORDER BY doc_id
    """,
)
def script_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive TRANSFORM/MAP-REDUCE script stage: arbitrary per-row Python
    over Arrow batches via mapInPandas (the idiomatic replacement for
    piping rows through an external script). Deterministic logic →
    full oracle. At 100 TB this is a map-only stage; batch size is
    Arrow-controlled, never row-at-a-time."""
    d = Catalog(spark, sf_dir).documents

    def transform(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "head_upper": pdf["text"].str.slice(0, 20).str.upper(),
                    "n_tokens": pdf["text"].str.split(" ").str.len(),
                }
            )

    return d.mapInPandas(
        transform, "doc_id long, head_upper string, n_tokens long"
    ).orderBy("doc_id")


@query(
    "transform_using_script",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey < 3000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def transform_using_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal HiveQL external-process stage: SELECT TRANSFORM
    pipes rows through 'cat' as tab-separated text and reparses them —
    proving the script-serde round trip (the aggregation downstream
    breaks if any row is lost or mangled). This is the syntax-level
    twin of script_transform (which shows the mapInPandas replacement);
    real deployments should prefer the Arrow path — an OS pipe
    per-partition plus text serde is the slowest possible stage — but
    the surface must exist for Hive script jobs to port verbatim."""
    Catalog(spark, sf_dir).orders.where(
        F.col("o_orderkey") < 3000
    ).createOrReplaceTempView("xform_orders_src")
    return spark.sql(
        """
        WITH piped AS (
          SELECT TRANSFORM(o_orderkey, o_orderpriority)
          USING 'cat' AS (k STRING, prio STRING)
          FROM xform_orders_src)
        SELECT prio AS o_orderpriority, count(*) AS n,
               sum(CAST(k AS BIGINT)) AS key_sum
        FROM piped GROUP BY prio ORDER BY prio
        """
    )


@query(
    "sql_udf_registration",
    oracle="""
    SELECT p_partkey,
           reverse(p_brand) || ':' || CAST(length(p_name) AS VARCHAR)
               AS tagged
    FROM part WHERE p_partkey < 200 ORDER BY p_partkey
    """,
)
def sql_udf_registration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive CREATE FUNCTION parity: register a Python scalar UDF under
    a SQL name and call it from a SQL string. Row-at-a-time Python is
    the SLOW path (use pandas_udf / builtins in anything hot — see
    pandas_udf_scalar); what's exercised here is the registration +
    SQL-callable surface itself."""
    cat = Catalog(spark, sf_dir)
    cat.part.createOrReplaceTempView("part")

    def tag(brand: str, name: str) -> str:
        return f"{brand[::-1]}:{len(name)}"

    spark.udf.register("brand_tag", tag, "string")
    return spark.sql(
        """
        SELECT p_partkey, brand_tag(p_brand, p_name) AS tagged
        FROM part WHERE p_partkey < 200 ORDER BY p_partkey
        """
    )


@query(
    "sql_scalar_macro",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2)
               AS disc_revenue
    FROM lineitem WHERE l_orderkey < 5000
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sql_scalar_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar function (CREATE FUNCTION ... RETURNS DOUBLE RETURN
    expr, Spark 4) — the typed, server-side replacement for Hive's
    CREATE TEMPORARY MACRO: a named expression registered once and
    reused across queries. The body INLINES at plan time, so calling
    it inside an aggregate keeps whole-stage codegen and partial
    aggregation — zero overhead vs writing the expression by hand
    (unlike a Python UDF, which would serialize every row). The
    oracle inlines the same expression; parity proves the inlining
    is semantically exact. Complements `sql_table_function` (RETURNS
    TABLE) and `sql_udf_registration` (Python scalar)."""
    Catalog(spark, sf_dir).lineitem.where(
        F.col("l_orderkey") < 5000
    ).createOrReplaceTempView("macro_lineitem_src")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price(
            p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1.0 - d)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag, count(*) AS n,
               round(sum(disc_price(l_extendedprice, l_discount)), 2)
                   AS disc_revenue
        FROM macro_lineitem_src
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


@query(
    "mapinarrow_bytes",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(length(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(ord(text[1:1]) AS BIGINT) AS first_byte
    FROM documents WHERE doc_id < 300 ORDER BY doc_id
    """,
)
def mapinarrow_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the lowest-overhead Python batch surface (raw Arrow
    RecordBatches, no pandas conversion): per-doc byte length, word
    count, and first byte computed with pyarrow.compute kernels. The
    tier to reach for when even the pandas bridge is measurable —
    e.g. byte-level feature extraction over multimodal payloads."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def feats(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            text = b.column(b.schema.get_field_index("text"))
            n_bytes = pc.binary_length(pc.cast(text, pa.binary()))
            n_words = pc.list_value_length(
                pc.split_pattern(text, pattern=" ")
            )
            first = pc.cast(
                pc.utf8_slice_codeunits(text, 0, 1), pa.string()
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("doc_id")),
                    pc.cast(n_bytes, pa.int64()),
                    pc.cast(n_words, pa.int64()),
                    first,
                ],
                names=["doc_id", "n_bytes", "n_words", "first_char"],
            )

    d = Catalog(spark, sf_dir).documents.where(F.col("doc_id") < 300)
    out = d.select("doc_id", "text").mapInArrow(
        feats,
        schema=(
            "doc_id long, n_bytes long, n_words long, first_char string"
        ),
    )
    return out.select(
        "doc_id",
        "n_bytes",
        "n_words",
        F.ascii("first_char").cast("long").alias("first_byte"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# GROUPED_AGG pandas UDAF
# --------------------------------------------------------------------

_UDAF_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                * CAST(round(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS sumsq_cents2
FROM orders
WHERE o_orderkey % 101 = 0
GROUP BY 1 ORDER BY 1
"""


@query("pandas_grouped_agg_udaf", oracle=_UDAF_ORACLE)
def pandas_grouped_agg_udaf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A GROUPED_AGG ``@pandas_udf`` — the Arrow-vectorized
    user-defined AGGREGATE extension point (each group's column
    arrives as one pandas Series; the return is the scalar) — kept
    exact: int64 sum of squared cents, so the oracle replays it as
    plain SQL sum(x·x). The mod-101 key filter bounds the squared
    sum far inside int64 at every scale AND keeps the Python-side
    work a deliberate cold-path demo (the repo's hot paths never
    leave the JVM; this query gates the extension surface itself).
    cites pyspark.sql.functions.pandas_udf (GROUPED_AGG)."""

    @pandas_udf("long")
    def sumsq(cents: pd.Series) -> int:
        import numpy as np

        a = cents.to_numpy(dtype="int64")
        return int(np.dot(a, a))

    # GROUPED_AGG pandas UDFs cannot share an .agg() with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT), so the row count is
    # a second pandas UDAF — the mixed-plan restriction is itself
    # part of the surface this query documents.
    @pandas_udf("long")
    def ncount(cents: pd.Series) -> int:
        return int(len(cents))

    o = Catalog(spark, sf_dir).orders
    base = o.where(F.col("o_orderkey") % 101 == 0).select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    return (
        base.groupBy("priority")
        .agg(
            ncount(F.col("c")).alias("n"),
            sumsq(F.col("c")).alias("sumsq_cents2"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------
# reflect / java_method (Hive GenericUDFReflect)
# --------------------------------------------------------------------

@query(
    "reflect_java_method",
    oracle="""
    SELECT lower(hex(o_orderkey % 4096)) AS hex_code,
           bin(CAST(o_orderkey % 16 AS INTEGER)) AS bin_code,
           CAST(count(*) AS BIGINT) AS n
    FROM orders WHERE o_orderkey < 5000
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def reflect_java_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``reflect()`` / ``java_method()`` (GenericUDFReflect):
    invoke static JVM methods by name from SQL. Integer.toHexString /
    Long.toBinaryString are replayed in the oracle via hex()/bin()
    string builtins — proving the reflective call computes the same
    function, which is the surface contract. Reflection is per-row
    JVM work with no codegen; the docstring-level guidance is to
    prefer builtins (conv/hex/bin) in 100 TB hot paths."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView("ord_r9r")
    return spark.sql(
        """
        SELECT reflect('java.lang.Integer', 'toHexString',
                       CAST(o_orderkey % 4096 AS INT)) AS hex_code,
               java_method('java.lang.Long', 'toBinaryString',
                           o_orderkey % 16) AS bin_code,
               count(*) AS n
        FROM ord_r9r WHERE o_orderkey < 5000
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    )

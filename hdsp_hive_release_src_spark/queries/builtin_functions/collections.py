"""Builtin functions: arrays, maps, higher-order functions and generators.

Array/map builtins, lambdas (transform, filter, aggregate, exists),
explode/posexplode/inline/stack generators, table-valued functions and
collecting aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.registry import query


@query(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           round(list_sum(embedding::DOUBLE[]), 6) AS vec_sum,
           round(list_max(embedding::DOUBLE[]), 6) AS vec_max,
           round(embedding[1]::DOUBLE, 6) AS first_dim,
           round(list_sum(list_transform(list_slice(embedding::DOUBLE[], 1, 8),
                 x -> abs(x))), 6) AS l1_head,
           CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS BIGINT)
               AS n_positive
    FROM embeddings ORDER BY vec_id LIMIT 100
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order function family (aggregate/transform/filter/
    slice/element_at) over the embedding column — all JVM-side."""
    e = Catalog(spark, sf_dir).embeddings
    v = F.expr("transform(embedding, x -> cast(x AS double))")
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    return (
        e.select(
            "vec_id",
            F.round(fold(v), 6).alias("vec_sum"),
            F.round(F.array_max(v), 6).alias("vec_max"),
            F.round(F.element_at(v, 1), 6).alias("first_dim"),
            F.round(
                fold(F.transform(F.slice(v, 1, 8), lambda x: F.abs(x))), 6
            ).alias("l1_head"),
            F.size(F.filter(v, lambda x: x > 0)).cast("long").alias(
                "n_positive"
            ),
        )
        .orderBy("vec_id")
        .limit(100)
    )


@query(
    "array_funcs_wave2",
    oracle="""
    WITH t AS (
      SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part
      WHERE p_partkey < 200)
    SELECT p_partkey,
           CAST(coalesce(list_position(ws, 'green'), 0)
                AS INTEGER) AS pos_green,
           array_to_string(list_prepend('HEAD', ws), chr(31)) AS pre,
           array_to_string(ws[1:1] || ['X'] || ws[2:], chr(31)) AS ins,
           array_to_string(ws[2:], chr(31)) AS tail_slice
    FROM t ORDER BY p_partkey
    """,
)
def array_funcs_wave2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array mutation wave 2: array_position (1-based; Spark returns 0
    when absent where DuckDB's list_position returns NULL — the oracle
    coalesces to 0 to pin Spark's convention), array_prepend,
    array_insert, and tail slicing. All map-only expression work."""
    p = Catalog(spark, sf_dir).part.where(F.col("p_partkey") < 200)
    ws = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        F.array_position(ws, "green").cast("int").alias("pos_green"),
        F.concat_ws("\x1f", F.array_prepend(ws, F.lit("HEAD"))).alias(
            "pre"
        ),
        F.concat_ws(
            "\x1f", F.array_insert(ws, 2, F.lit("X"))
        ).alias("ins"),
        F.concat_ws(
            "\x1f", F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0)))
        ).alias("tail_slice"),
    ).orderBy("p_partkey")


@query(
    "array_funcs_wave3",
    oracle="""
    WITH ws AS (
      SELECT p_partkey, string_split(p_name, ' ') AS w FROM part
      WHERE p_partkey < 2000)
    SELECT p_partkey,
           CAST(len(flatten([w, ['tail']])) AS INTEGER) AS flat_n,
           CAST(len(list_filter(
                 list_transform(w, x -> CASE WHEN len(x) > 4
                                        THEN x END),
                 x -> x IS NOT NULL)) AS INTEGER) AS compact_n,
           list_prepend('head', w)[1] AS prepended_first,
           list_append(w, 'tail')[-1] AS appended_last,
           CAST(coalesce(list_position(w, 'spring'), 0) AS BIGINT)
               AS pos_spring,
           CAST(len(list_filter(w, x -> x <> w[1])) AS INTEGER)
               AS removed_n,
           len(list_intersect(w, ['spring', 'autumn'])) > 0
               AS has_season
    FROM ws ORDER BY p_partkey
    """,
)
def array_funcs_wave3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining array built-ins: flatten, array_compact (null
    removal), array_prepend/append, array_position (0 when absent —
    DuckDB's NULL coalesced to match), array_remove (all
    occurrences), arrays_overlap. All map-only element expressions —
    one scan, no shuffle but the presentation sort."""
    p = Catalog(spark, sf_dir).part.where(F.col("p_partkey") < 2000)
    w = F.split("p_name", " ")
    nullified = F.transform(
        w, lambda x: F.when(F.length(x) > 4, x)
    )
    return p.select(
        "p_partkey",
        F.size(F.flatten(F.array(w, F.array(F.lit("tail"))))).alias(
            "flat_n"
        ),
        F.size(F.array_compact(nullified)).alias("compact_n"),
        F.element_at(F.array_prepend(w, "head"), 1).alias(
            "prepended_first"
        ),
        F.element_at(F.array_append(w, "tail"), -1).alias(
            "appended_last"
        ),
        F.array_position(w, "spring").alias("pos_spring"),
        F.size(F.array_remove(w, F.element_at(w, 1))).alias(
            "removed_n"
        ),
        F.arrays_overlap(
            w, F.array(F.lit("spring"), F.lit("autumn"))
        ).alias("has_season"),
    ).orderBy("p_partkey")


@query(
    "array_custom_sort",
    oracle="""
    SELECT p_partkey,
           array_to_string(list(w ORDER BY len(w), w), chr(31))
               AS by_len_then_alpha
    FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w
          FROM part WHERE p_partkey < 200)
    GROUP BY p_partkey ORDER BY p_partkey
    """,
)
def array_custom_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_sort with a CUSTOM comparator lambda (shortest-first,
    alphabetical tiebreak) — beyond the natural-order list sort the
    other array queries use. DuckDB lacks comparator sorts, so the
    oracle rebuilds the ordering relationally (unnest → ORDER BY in a
    list() aggregate) — proving the comparator semantics, not just
    round-tripping one engine's quirk."""
    p = Catalog(spark, sf_dir).part.where(F.col("p_partkey") < 200)
    sorted_arr = F.expr(
        "array_sort(split(p_name, ' '), (a, b) -> "
        "CASE WHEN length(a) < length(b) THEN -1 "
        "WHEN length(a) > length(b) THEN 1 "
        "WHEN a < b THEN -1 WHEN a > b THEN 1 ELSE 0 END)"
    )
    return p.select(
        "p_partkey",
        F.concat_ws("\x1f", sorted_arr).alias("by_len_then_alpha"),
    ).orderBy("p_partkey")


@query(
    "array_exists_forall",
    oracle="""
    WITH ws AS (
      SELECT p_partkey, string_split(p_name, ' ') AS w FROM part
      WHERE p_partkey < 2000)
    SELECT p_partkey,
           len(list_filter(w, x -> len(x) > 6)) > 0 AS any_long,
           len(list_filter(w, x -> NOT regexp_matches(x, '^[a-z]+$')))
               = 0 AS all_alpha,
           CAST(len(list_filter(w, (x, i) -> i % 2 = 1)) AS INTEGER)
               AS n_even_pos,
           CAST(list_sum(list_transform(w, x -> len(x))) * 10
                AS BIGINT) AS len_sum_x10
    FROM ws ORDER BY p_partkey
    """,
)
def array_exists_forall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The higher-order predicate quartet: exists / forall /
    index-aware filter / aggregate-with-finish — all JVM lambda
    expressions inside one codegen stage (the reason these beat a
    Python UDF by orders of magnitude). Index bases differ across
    engines (Spark 0-based, DuckDB 1-based) — the oracle mirrors
    even-position selection accordingly; the finish lambda is
    replayed as arithmetic."""
    p = Catalog(spark, sf_dir).part.where(F.col("p_partkey") < 2000)
    w = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        F.exists(w, lambda x: F.length(x) > 6).alias("any_long"),
        F.forall(w, lambda x: x.rlike("^[a-z]+$")).alias("all_alpha"),
        F.size(
            F.filter(w, lambda x, i: i % 2 == 0)
        ).cast("int").alias("n_even_pos"),
        F.aggregate(
            w,
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
            lambda acc: acc * 10,
        ).cast("long").alias("len_sum_x10"),
    ).orderBy("p_partkey")


@query(
    "map_higher_order",
    oracle="""
    WITH kv AS (
      SELECT p_partkey, 'price_cents' AS key,
             round(p_retailprice * 100, 2) AS value
      FROM part
      UNION ALL
      SELECT p_partkey, 'size_sq' AS key,
             CAST(p_size AS DOUBLE) * p_size AS value
      FROM part)
    SELECT key, count(*) AS n, round(sum(value), 2) AS total
    FROM kv WHERE value > 1000
    GROUP BY key ORDER BY key
    """,
)
def map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order pipeline: create_map → transform_values (scale
    each value by a key-dependent rule) → map_filter (> 1000) →
    explode to rows → aggregate per key. The oracle replays the same
    arithmetic without maps (UNION ALL of the two keys + WHERE)."""
    p = Catalog(spark, sf_dir).part
    m = F.create_map(
        F.lit("price_cents"), F.col("p_retailprice"),
        F.lit("size_sq"), F.col("p_size").cast("double"),
    )
    scaled = F.transform_values(
        m,
        lambda k, v: F.when(
            k == "price_cents", F.round(v * 100, 2)
        ).otherwise(v * F.col("p_size")),
    )
    kept = F.map_filter(scaled, lambda k, v: v > 1000)
    return (
        p.select(F.explode(kept).alias("key", "value"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .orderBy("key")
    )


@query(
    "map_higher_order2",
    oracle="""
    WITH base AS (
      SELECT p_partkey,
             list_extract(string_split(p_name, ' '), 1) AS w1,
             list_extract(string_split(p_name, ' '), 2) AS w2,
             strlen(list_extract(string_split(p_name, ' '), 1))
                 AS len1,
             strlen(list_extract(string_split(p_name, ' '), 2))
                 AS len2
      FROM part WHERE p_partkey < 200)
    SELECT p_partkey, entry_key, entry_val FROM (
      SELECT p_partkey, upper(w1) AS entry_key,
             CAST(len1 * 2 AS BIGINT) AS entry_val FROM base
      UNION ALL
      SELECT p_partkey, upper(w2) AS entry_key,
             CAST(len2 * 2 AS BIGINT) AS entry_val FROM base)
    ORDER BY p_partkey, entry_key
    """,
)
def map_higher_order2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map higher-order wave 2: build word→length maps, then
    transform_keys (upper), transform_values (double), and
    map_zip_with (sum of the doubled map with itself minus itself —
    exercised then discarded so the checked output stays simple).
    Output is EXPLODED to sorted (key, value) rows: the gate's pandas
    canonicalizer cannot hash raw MAP cells, and DuckDB MAPs don't
    compare structurally anyway (the established pattern from
    map_funcs). Map entries per row are tiny; everything is
    map-side."""
    p = Catalog(spark, sf_dir).part
    # p_name is always exactly two distinct words in this schema
    # (asserted by the oracle's two-entry UNION shape)
    words = F.split("p_name", " ")
    base = p.where(F.col("p_partkey") < 200).select(
        "p_partkey",
        F.map_from_arrays(
            words, F.transform(words, lambda w: F.length(w))
        ).alias("m"),
    )
    transformed = base.select(
        "p_partkey",
        F.transform_values(
            F.transform_keys(F.col("m"), lambda k, v: F.upper(k)),
            lambda k, v: v * 2,
        ).alias("m2"),
    )
    zipped = transformed.select(
        "p_partkey",
        F.map_zip_with(
            "m2",
            "m2",
            lambda k, v1, v2: v1 + v2 - v2,
        ).alias("mz"),
    )
    return (
        zipped.select(
            "p_partkey", F.explode("mz").alias("entry_key", "entry_val")
        )
        .withColumn("entry_val", F.col("entry_val").cast("long"))
        .orderBy("p_partkey", "entry_key")
    )


@query(
    "higher_order_wave3",
    oracle="""
    WITH src AS (
      SELECT p_partkey, string_split(p_name, ' ') AS ws
      FROM part WHERE p_partkey < 200),
    base AS (
      SELECT p_partkey, ws,
             list_reduce(list_transform(ws, x -> strlen(x)),
                         (a, b) -> a + b) * 10 AS folded,
             array_to_string(ws, '-') AS joined,
             array_to_string(
               list_transform(range(1, 4), i ->
                 list_extract(ws, 1)), ',') AS repeated
      FROM src)
    SELECT p_partkey, folded, joined, repeated,
           u.entry_key, u.entry_val
    FROM base, LATERAL (
      SELECT upper(list_extract(ws, 1)) AS entry_key,
             strlen(list_extract(ws, 1)) AS entry_val
      UNION ALL
      SELECT upper(list_extract(ws, 2)),
             strlen(list_extract(ws, 2))) u
    ORDER BY p_partkey, entry_key
    """,
)
def higher_order_wave3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order wave 3: reduce() with init/merge/FINISH lambdas
    (fold char lengths, finish multiplies by 10 — proving the finish
    stage runs), array_join, array_repeat (first word ×3; DuckDB
    mirrors with a range comprehension), and map_from_entries +
    map_concat building a word→length map from entry structs, merged
    with itself (idempotent on distinct keys) and exploded to sorted
    rows for the gate. All map-side."""
    p = Catalog(spark, sf_dir).part
    ws = F.split("p_name", " ")
    base = p.where(F.col("p_partkey") < 200).select(
        "p_partkey",
        ws.alias("ws"),
        F.reduce(
            F.transform(ws, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
            lambda acc: acc * 10,
        ).alias("folded"),
        F.array_join(ws, "-").alias("joined"),
        F.array_join(
            F.array_repeat(F.element_at(ws, 1), 3), ","
        ).alias("repeated"),
    )
    entries = F.transform(
        F.col("ws"),
        lambda w: F.struct(
            F.upper(w).alias("k"), F.length(w).alias("v")
        ),
    )
    m = F.map_concat(
        F.map_from_entries(entries),
    )
    return (
        base.select(
            "p_partkey",
            "folded",
            "joined",
            "repeated",
            F.explode(m).alias("entry_key", "entry_val"),
        )
        .withColumn("folded", F.col("folded").cast("long"))
        .withColumn("entry_val", F.col("entry_val").cast("long"))
        .orderBy("p_partkey", "entry_key")
    )


@query(
    "explode_map_entries",
    oracle="""
    SELECT o_orderkey, 'prio' AS k, o_orderpriority AS v
    FROM orders WHERE o_orderkey < 300
    UNION ALL
    SELECT o_orderkey, 'stat' AS k, o_orderstatus AS v
    FROM orders WHERE o_orderkey < 300
    ORDER BY o_orderkey, k
    """,
)
def explode_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map explosion: a per-row map unpivoted to (key, value) rows via
    explode(map) — the Hive LATERAL VIEW explode(map_col) idiom the
    array explode queries don't cover. The oracle rebuilds the same
    rows relationally."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 300)
    m = F.create_map(
        F.lit("prio"), F.col("o_orderpriority"),
        F.lit("stat"), F.col("o_orderstatus"),
    )
    return (
        o.select("o_orderkey", F.explode(m).alias("k", "v"))
        .orderBy("o_orderkey", "k")
    )


@query(
    "json_array_explode",
    oracle="""
    SELECT o_orderkey, CAST(o_orderkey % 7 AS BIGINT) AS q
    FROM orders WHERE o_orderkey < 1000
    UNION ALL
    SELECT o_orderkey, CAST(o_orderkey % 11 AS BIGINT) AS q
    FROM orders WHERE o_orderkey < 1000
    ORDER BY o_orderkey, q
    """,
)
def json_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON ARRAY parsing (the shape typed_json's object parse doesn't
    cover): a per-row JSON array of objects is schema-parsed with
    from_json('array<struct>') and exploded to one row per element —
    the nested-API-response ingestion shape. The array is built
    deterministically from the key, so the oracle replays the two
    elements relationally — proving the parse+explode recovered
    exactly the planted values."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 1000)
    arr_json = F.concat(
        F.lit('[{"q": '),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit('}, {"q": '),
        (F.col("o_orderkey") % 11).cast("string"),
        F.lit("}]"),
    )
    parsed = o.select(
        "o_orderkey",
        F.explode(
            F.from_json(arr_json, "array<struct<q:long>>")
        ).alias("el"),
    )
    return parsed.select(
        "o_orderkey", F.col("el.q").alias("q")
    ).orderBy("o_orderkey", "q")


@query(
    "posexplode_outer_empty",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN []
                  ELSE string_split(o_orderpriority, '-') END AS parts
      FROM orders WHERE o_orderkey < 500)
    SELECT o_orderkey,
           CASE WHEN len(parts) = 0 THEN NULL
                ELSE u.i - 1 END AS pos,
           CASE WHEN len(parts) = 0 THEN NULL ELSE u.x END AS token
    FROM src LEFT JOIN LATERAL (
      SELECT unnest(parts) AS x,
             generate_subscripts(parts, 1) AS i) u ON TRUE
    ORDER BY o_orderkey, pos
    """,
)
def posexplode_outer_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer — the OUTER generator variant that preserves
    the parent row as (NULL, NULL) when the array is empty (plain
    posexplode drops it, silently losing rows from left-joined
    pipelines; every 5th order here gets an empty array to prove the
    preservation). Generator output is pipelined — no shuffle."""
    o = Catalog(spark, sf_dir).orders
    src = o.where(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.array().cast("array<string>")
        )
        .otherwise(F.split("o_orderpriority", "-"))
        .alias("parts"),
    )
    return src.select(
        "o_orderkey",
        F.posexplode_outer("parts").alias("pos", "token"),
    ).orderBy("o_orderkey", "pos")


@query(
    "explode_outer_empty",
    oracle="""
    SELECT p_partkey,
           unnest(CASE WHEN p_size % 10 = 0 THEN [NULL]
                       ELSE string_split(p_type, '') END) AS ch
    FROM part WHERE p_partkey < 300
    """,
)
def explode_outer_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: parents with empty arrays survive as a NULL row
    (plain explode silently drops them — the classic LATERAL VIEW
    OUTER pitfall). Every 10th size gets an empty array to prove it."""
    p = Catalog(spark, sf_dir).part
    arr = F.when(
        F.col("p_size") % 10 == 0, F.array().cast("array<string>")
    ).otherwise(F.split("p_type", ""))
    return (
        p.where(F.col("p_partkey") < 300)
        .select("p_partkey", F.explode_outer(arr).alias("ch"))
    )


@query(
    "arrays_zip_explode",
    oracle="""
    SELECT p_partkey,
           unnest(list_transform(string_split(p_name, ' '),
                  x -> {'word': x, 'wlen': CAST(len(x) AS INTEGER)}),
                  recursive := true)
    FROM part WHERE p_partkey < 200
    """,
)
def arrays_zip_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arrays_zip + inline (explode of an array<struct>): tokens zipped
    with their lengths, one output row per struct field pair — Hive's
    LATERAL VIEW inline(...) shape, built array-side (no join)."""
    p = Catalog(spark, sf_dir).part
    ws = F.split("p_name", " ")
    zipped = F.arrays_zip(
        ws.alias("word"),
        F.transform(ws, lambda x: F.length(x)).alias("wlen"),
    )
    return (
        p.where(F.col("p_partkey") < 200)
        .select("p_partkey", F.inline(zipped))
    )


@query(
    "array_access_semantics",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, string_split(o_orderpriority, '-') AS parts
      FROM orders WHERE o_orderkey < 400)
    SELECT o_orderkey,
           parts[1] AS first_el,
           parts[-1] AS last_el,
           CAST(NULL AS VARCHAR) AS oob_null,
           parts[1] AS get0,
           CAST(len(parts) AS INT) AS asz
    FROM src ORDER BY o_orderkey
    """,
)
def array_access_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array access semantics matrix: element_at is 1-based and
    accepts negative indexes (from the end); try_element_at returns
    NULL beyond the bounds instead of raising (ANSI mode raises for
    element_at — the try_ variant is the pipeline-safe form); get()
    is the 0-based accessor with NULL OOB; array_size counts. DuckDB
    mirrors with its native 1-based/negative list indexing and a NULL
    literal for the OOB lane."""
    o = Catalog(spark, sf_dir).orders
    parts = F.split("o_orderpriority", "-")
    return (
        o.where(F.col("o_orderkey") < 400)
        .select(
            "o_orderkey",
            F.element_at(parts, 1).alias("first_el"),
            F.element_at(parts, -1).alias("last_el"),
            F.try_element_at(parts, F.lit(9)).alias("oob_null"),
            F.get(parts, 0).alias("get0"),
            F.array_size(parts).alias("asz"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "map_funcs",
    oracle="""
    SELECT p_partkey,
           p_brand AS brand_val,
           p_size AS size_val,
           CAST(2 AS INTEGER) AS n_keys,
           'brand,size' AS keys,
           p_retailprice AS price_val
    FROM part ORDER BY p_partkey LIMIT 200
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type family: str_to_map / create_map / map_keys /
    element_at — round-trips row values through a MAP column and back
    to scalars (the oracle checks the values, proving lossless
    construction + access)."""
    p = Catalog(spark, sf_dir).part
    kv = F.str_to_map(
        F.concat(
            F.lit("brand:"), F.col("p_brand"),
            F.lit(",size:"), F.col("p_size").cast("string"),
        ),
        F.lit(","),
        F.lit(":"),
    )
    m2 = F.create_map(F.lit("price"), F.col("p_retailprice"))
    return (
        p.select(
            "p_partkey",
            F.element_at(kv, "brand").alias("brand_val"),
            F.element_at(kv, "size").cast("int").alias("size_val"),
            F.size(kv).alias("n_keys"),
            F.concat_ws(",", F.array_sort(F.map_keys(kv))).alias("keys"),
            F.element_at(m2, "price").alias("price_val"),
        )
        .orderBy("p_partkey")
        .limit(200)
    )


@query(
    "posexplode_tokens",
    oracle="""
    SELECT doc_id,
           unnest(list_transform(string_split(text, ' '),
                  (x, i) -> {'pos': i - 1, 'token': x}),
                  recursive := true)
    FROM documents WHERE doc_id < 20
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode UDTF (LATERAL VIEW posexplode in HiveQL): token +
    0-based position per document."""
    d = Catalog(spark, sf_dir).documents
    return d.where(F.col("doc_id") < 20).select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    )


# --------------------------------------------------- lateral / explode

@query(
    "lateral_explode_tokens",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def lateral_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive LATERAL VIEW explode ≡ explode(split()) — token frequency
    over the corpus. Generator runs inside codegen; no Python."""
    d = Catalog(spark, sf_dir).documents
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@query(
    "inline_explode",
    oracle="""
    SELECT o_orderkey, 'full_price' AS measure,
           round(o_totalprice, 2) AS val
    FROM orders WHERE o_orderkey < 2000
    UNION ALL
    SELECT o_orderkey, 'with_freight', round(o_totalprice + 100, 2)
    FROM orders WHERE o_orderkey < 2000
    ORDER BY o_orderkey, measure
    """,
)
def inline_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW inline(array<struct>) — the Hive UDTF that explodes
    an array of structs into columns in one step (explode would yield
    a struct column needing a second projection). Each order emits its
    measure rows from an inline-constructed struct array; map-only, so
    the UNION-ALL-free single scan is the point: N measures cost one
    pass, not N (the same reason stack() exists — inline is its
    struct-typed sibling)."""
    Catalog(spark, sf_dir).orders.where(
        F.col("o_orderkey") < 2000
    ).createOrReplaceTempView("inline_orders_src")
    return spark.sql(
        """
        SELECT o_orderkey, m.measure, round(m.val, 2) AS val
        FROM inline_orders_src
        LATERAL VIEW inline(array(
            named_struct('measure', 'full_price',
                         'val', o_totalprice),
            named_struct('measure', 'with_freight',
                         'val', o_totalprice + 100))) m AS measure, val
        ORDER BY o_orderkey, measure
        """
    )


@query(
    "stack_unpivot_funcs",
    oracle="""
    SELECT p_partkey, 'price' AS metric,
           round(p_retailprice, 2) AS val
    FROM part WHERE p_partkey < 150
    UNION ALL
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
    FROM part WHERE p_partkey < 150
    ORDER BY p_partkey, metric
    """,
)
def stack_unpivot_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive's stack() UDTF — the SELECT-list unpivot idiom (N columns →
    N rows of (label, value) per input row). Distinct from the
    relational UNPIVOT query (queries/olap.py): stack is an expression-
    position generator usable anywhere a LATERAL VIEW goes. Map-only."""
    Catalog(spark, sf_dir).part.where(
        F.col("p_partkey") < 150
    ).createOrReplaceTempView("stack_part_src")
    return spark.sql(
        """
        SELECT p_partkey, metric, round(val, 2) AS val
        FROM stack_part_src
        LATERAL VIEW stack(
            2, 'size', CAST(p_size AS DOUBLE),
               'price', p_retailprice) t AS metric, val
        ORDER BY p_partkey, metric
        """
    )


@query(
    "collect_agg",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
           CAST(len(list(n_name)) AS BIGINT) AS n_nations
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set/collect_list → sorted array, emitted as a joined
    string (order-canonicalized so the shuffle's row order can't leak
    into results, and scalar-typed so any downstream pandas
    canonicalization — which can't sort list cells — stays hashable)."""
    n = Catalog(spark, sf_dir).nation
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("n_name"))).alias(
                "nations"
            ),
            F.size(F.collect_list("n_name")).cast("long").alias("n_nations"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "array_set_ops",
    oracle="""
    SELECT p_partkey,
           array_to_string(list_sort(list_distinct(ws || [p_brand])),
                           chr(31)) AS u,
           array_to_string(list_sort(list_intersect(ws, ws[1:2])),
                           chr(31)) AS i,
           array_to_string(list_sort(list_filter(list_distinct(ws),
                     x -> NOT list_contains(ws[1:1], x))), chr(31)) AS e,
           CAST(len(list_distinct(ws)) AS INTEGER) AS n_distinct,
           list_contains(ws, 'green') AS has_green
    FROM (SELECT p_partkey, p_brand, string_split(p_name, ' ') AS ws
          FROM part WHERE p_partkey < 200)
    ORDER BY p_partkey
    """,
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-operation family: union/intersect/except/distinct/
    contains — outputs sorted AND joined to strings so engine-internal
    set order can't leak into the comparison and driver-side pandas
    canonicalization never sees an unhashable list cell. Joined with
    the unit separator (U+001F), which cannot occur in the word data —
    a ',' join would silently collide if an element ever contained a
    comma."""
    SEP = ""
    p = Catalog(spark, sf_dir).part
    ws = F.split("p_name", " ")
    return (
        p.where(F.col("p_partkey") < 200)
        .select(
            "p_partkey",
            F.concat_ws(
                SEP, F.array_sort(F.array_union(ws, F.array(F.col("p_brand"))))
            ).alias("u"),
            F.concat_ws(
                SEP, F.array_sort(F.array_intersect(ws, F.slice(ws, 1, 2)))
            ).alias("i"),
            F.concat_ws(
                SEP, F.array_sort(F.array_except(ws, F.slice(ws, 1, 1)))
            ).alias("e"),
            F.size(F.array_distinct(ws)).alias("n_distinct"),
            F.array_contains(ws, "green").alias("has_green"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------
# sequence / generate_series parity
# --------------------------------------------------------------------

@query(
    "sequence_generate_series",
    oracle="""
    SELECT CAST(k AS BIGINT) AS k,
           array_to_string(generate_series(1, k * 4, k), ',') AS up,
           array_to_string(generate_series(k * 4, 1, -k), ',') AS down,
           array_to_string(
             list_transform(
               generate_series(DATE '2024-01-01', DATE '2024-03-01',
                               to_days(CAST(k * 7 AS INTEGER))),
               x -> strftime(x, '%Y-%m-%d')), ',') AS dates
    FROM range(1, 7) t(k) ORDER BY k
    """,
)
def sequence_generate_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequence() ≡ generate_series parity: inclusive integer ranges
    with positive and negative strides plus DATE ranges with interval
    strides — the lateral-spine generator behind gap-filling and date
    scaffolds. Generated per-row in the JVM (no driver loop), so a
    100 TB date spine is just explode(sequence(...)) over
    distributed bounds."""
    return (
        spark.range(1, 7)
        .select(F.col("id").alias("k"))
        .select(
            "k",
            F.concat_ws(
                ",", F.expr("sequence(1, k * 4, k)")
            ).alias("up"),
            F.concat_ws(
                ",", F.expr("sequence(k * 4, 1, -k)")
            ).alias("down"),
            F.concat_ws(
                ",",
                F.expr(
                    "transform(sequence(DATE'2024-01-01', "
                    "DATE'2024-03-01', make_interval(0,0,0,k*7,0,0,0)),"
                    " x -> date_format(x, 'yyyy-MM-dd'))"
                ),
            ).alias("dates"),
        )
        .orderBy("k")
    )


@query(
    "sql_table_function",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_totalprice > 300000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table-valued function (CREATE FUNCTION ... RETURNS TABLE,
    Spark 3.5+): a parameterized query registered once and invoked in
    the FROM clause — the SQL-native reusable-view-with-arguments
    Hive fakes with variable substitution. The function body inlines
    at plan time, so the parameter behaves like a pushed-down literal
    (no materialization boundary). Oracle inlines the same body."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "tf_orders_src"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION big_orders_by_prio(
            cutoff DOUBLE)
        RETURNS TABLE (o_orderpriority STRING, n BIGINT, total DOUBLE)
        RETURN SELECT o_orderpriority, count(*) AS n,
                      round(sum(o_totalprice), 2) AS total
               FROM tf_orders_src WHERE o_totalprice > cutoff
               GROUP BY o_orderpriority
        """
    )
    return spark.sql(
        "SELECT * FROM big_orders_by_prio(300000)"
        " ORDER BY o_orderpriority"
    )


@query(
    "quantity_expansion",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(u AS BIGINT) AS unit_no
    FROM lineitem, unnest(range(1, CAST(l_quantity AS BIGINT) + 1))
         AS t(u)
    WHERE l_orderkey < 300
    ORDER BY l_orderkey, l_linenumber, unit_no
    """,
)
def quantity_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-row expansion: one row per physical unit from a quantity
    column (explode over sequence(1, qty)) — the normalization step
    per-unit costing / serial-number assignment pipelines run. Row
    multiplication is bounded by sum(qty); map-only."""
    li = Catalog(spark, sf_dir).lineitem.where(F.col("l_orderkey") < 300)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.explode(
                F.sequence(
                    F.lit(1), F.col("l_quantity").cast("long")
                )
            ).alias("unit_no"),
        )
        .orderBy("l_orderkey", "l_linenumber", "unit_no")
    )


@query(
    "listagg_sorted",
    oracle="""
    SELECT n.n_name,
           string_agg(c.c_name, ',' ORDER BY c.c_name) AS names,
           count(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > 7500
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def listagg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with deterministic order: collect_list is
    order-unstable under distributed merge, so sort the array before
    concat_ws — the Hive-idiomatic stable form. Nation side broadcast."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.customer.where(F.col("c_acctbal") > 7500)
        .join(F.broadcast(cat.nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("c_name")))
            .alias("names"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("n_name")
    )


@query(
    "listagg_distinct",
    oracle="""
    SELECT c_mktsegment,
           string_agg(DISTINCT CAST(c_nationkey % 5 AS VARCHAR)
                      ORDER BY CAST(c_nationkey % 5 AS VARCHAR))
               AS nations_mod
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def listagg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG(DISTINCT ... ) WITHIN GROUP — the deduplicating ordered
    string aggregation (SQL:2023 surface, Spark 4): distinct values
    concatenated in a pinned order, the report-ready companion to
    listagg_sorted's bag semantics."""
    Catalog(spark, sf_dir).customer.createOrReplaceTempView(
        "la_customer_src"
    )
    return spark.sql(
        """
        SELECT c_mktsegment,
               listagg(DISTINCT CAST(c_nationkey % 5 AS STRING), ',')
                   WITHIN GROUP (ORDER BY CAST(c_nationkey % 5 AS STRING))
                   AS nations_mod
        FROM la_customer_src
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """
    )


@query(
    "sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    packed AS (
      SELECT source, n_tokens,
             CAST((sum(n_tokens) OVER w - n_tokens) // 256
                  AS BIGINT) AS bin_id
      FROM toks
      WINDOW w AS (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT source, bin_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM packed GROUP BY source, bin_id ORDER BY source, bin_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-pretraining sequence packing (concat-and-chunk): documents
    are concatenated in arrival order within each source shard and cut
    into 256-token context bins; a doc's bin is where its first token
    lands (floor division — DuckDB's // mirrors Spark's long cast,
    which truncates where a plain CAST(double) would round). Window
    cumsum per shard — shards pack in parallel, no global sort (the
    per-shard window is the scale unit, matching how packing runs per
    input shard in production pipelines)."""
    from pyspark.sql import Window

    d = Catalog(spark, sf_dir).documents
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / 256
        ).cast("long"),
    )
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("source", "bin_id")
    )

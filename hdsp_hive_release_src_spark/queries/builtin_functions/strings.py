"""Builtin functions: strings, binary, hashing and semi-structured data.

String, regex, collation, masking, URL, codec and hash builtins, plus
the JSON, XML, XPath, CSV-expression and VARIANT families. Each query
pins Spark's builtin against DuckDB's equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import ORDER_CENTS, Catalog
from hdsp_hive_release_src_spark.registry import query
from hdsp_hive_release_src_spark.sources.io import fresh_managed_table


# ------------------------------------------------- builtin function suites

@query(
    "string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS upper_name,
           substring(c_name, 1, 8) AS prefix,
           CAST(length(c_name) AS BIGINT) AS name_len,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           concat(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS seg_nat,
           trim(lower(c_mktsegment)) AS seg_lower
    FROM customer ORDER BY c_custkey LIMIT 100
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive string builtin suite: upper/substring/length/regexp_extract/
    concat/trim/lower — all JVM-side codegen expressions."""
    c = Catalog(spark, sf_dir).customer
    return (
        c.select(
            "c_custkey",
            F.upper("c_name").alias("upper_name"),
            F.substring("c_name", 1, 8).alias("prefix"),
            F.length("c_name").cast("long").alias("name_len"),
            F.regexp_extract("c_name", r"([0-9]+)", 1).alias("digits"),
            F.concat_ws(
                "", F.col("c_mktsegment"), F.lit(":"),
                F.col("c_nationkey").cast("string"),
            ).alias("seg_nat"),
            F.trim(F.lower("c_mktsegment")).alias("seg_lower"),
        )
        .orderBy("c_custkey")
        .limit(100)
    )


@query(
    "string_funcs_codec",
    oracle="""
    SELECT doc_id,
           translate(substring(text, 1, 30), 'aeiou', '01234') AS devoweled,
           CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS first_code,
           chr(CAST(65 + doc_id % 26 AS INTEGER)) AS row_letter,
           to_base64(encode(substring(text, 1, 12))) AS head_b64,
           decode(from_base64(to_base64(encode(substring(text, 1, 12)))))
               AS head_back,
           array_to_string(string_split(text, ' ')[1:3], ' ')
               AS first_three
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def string_funcs_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec/char string family: translate, ascii/chr, base64
    round-trip, substring_index. Base64 parity proves byte-exact
    encode/decode across engines."""
    d = Catalog(spark, sf_dir).documents
    head12 = F.substring("text", 1, 12)
    return (
        d.where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.translate(F.substring("text", 1, 30), "aeiou", "01234").alias(
                "devoweled"
            ),
            F.ascii(F.substring("text", 1, 1)).alias("first_code"),
            F.chr(65 + F.col("doc_id") % 26).alias("row_letter"),
            F.base64(F.encode(head12, "utf-8")).alias("head_b64"),
            F.decode(
                F.unbase64(F.base64(F.encode(head12, "utf-8"))), "utf-8"
            ).alias("head_back"),
            F.substring_index("text", " ", 3).alias("first_three"),
        )
        .orderBy("doc_id")
    )


@query(
    "string_funcs_extended",
    oracle="""
    SELECT p_partkey,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           rpad(p_brand, 10, '.') AS brand_padded,
           replace(p_name, ' ', '_') AS name_snake,
           reverse(p_brand) AS brand_rev,
           repeat(substring(p_type, 1, 2), 2) AS type_2x,
           CAST(strpos(p_name, ' ') AS BIGINT) AS space_at,
           split_part(p_name, ' ', 1) AS first_word
    FROM part ORDER BY p_partkey LIMIT 200
    """,
)
def string_funcs_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string family: lpad/rpad/replace/reverse/repeat/
    instr/split_part."""
    p = Catalog(spark, sf_dir).part
    return (
        p.select(
            "p_partkey",
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias(
                "size_padded"
            ),
            F.rpad("p_brand", 10, ".").alias("brand_padded"),
            F.replace("p_name", F.lit(" "), F.lit("_")).alias("name_snake"),
            F.reverse("p_brand").alias("brand_rev"),
            F.repeat(F.substring("p_type", 1, 2), 2).alias("type_2x"),
            F.instr("p_name", " ").cast("long").alias("space_at"),
            F.split_part("p_name", F.lit(" "), F.lit(1)).alias("first_word"),
        )
        .orderBy("p_partkey")
        .limit(200)
    )


@query(
    "regexp_family",
    oracle="""
    SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
           CAST(len(regexp_extract_all(p_name, '[aeiou]'))
                AS INTEGER) AS n_vowels,
           nullif(regexp_extract(p_name, '[a-z]{6,}'), '')
               AS first_long,
           CAST(strpos(p_name, 'e') AS INTEGER) AS first_e_pos,
           regexp_replace(p_name, '([aeiou])', '<\\1>', 'g')
               AS marked
    FROM part WHERE p_partkey < 200 ORDER BY p_partkey
    """,
)
def regexp_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-Hive regexp accessor family: regexp_count (match
    tally), regexp_substr (first match or NULL — note DuckDB's
    regexp_extract returns '' instead, aligned with nullif),
    regexp_instr (1-based first-match position, 0 when absent — a
    single-char pattern makes strpos the exact oracle), and global
    regexp_replace with a capture-group backreference (Spark $1 =
    DuckDB \\1 dialect)."""
    p = Catalog(spark, sf_dir).part.where(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.regexp_count("p_name", F.lit("[aeiou]")).alias("n_vowels"),
        F.regexp_substr("p_name", F.lit("[a-z]{6,}")).alias(
            "first_long"
        ),
        F.regexp_instr("p_name", F.lit("e")).alias("first_e_pos"),
        F.regexp_replace("p_name", "([aeiou])", "<$1>").alias("marked"),
    ).orderBy("p_partkey")


@query(
    "collation_compare",
    oracle="""
    SELECT c_mktsegment AS segment, count(*) AS n
    FROM customer
    WHERE lower(c_mktsegment) = lower('BuIlDiNg')
       OR lower(c_mktsegment) = lower('machinery')
    GROUP BY c_mktsegment ORDER BY segment
    """,
)
def collation_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: UTF8_LCASE collated equality gives
    case-insensitive matching at the TYPE level — the predicate reads
    `col = literal` with no lower() wrapping, and (unlike
    expression-wrapped lowering) stays sargable for pushdown/stats.
    The oracle replays it with explicit lower() on both sides."""
    c = Catalog(spark, sf_dir).customer
    c.createOrReplaceTempView("coll_customer_src")
    return spark.sql(
        """
        SELECT c_mktsegment AS segment, count(*) AS n
        FROM coll_customer_src
        WHERE c_mktsegment COLLATE UTF8_LCASE IN ('BuIlDiNg',
                                                  'machinery')
        GROUP BY c_mktsegment ORDER BY segment
        """
    )


@query(
    "like_family",
    oracle="""
    SELECT CAST(sum(CASE WHEN p_name LIKE '%gold%' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_like,
           CAST(sum(CASE WHEN p_name ILIKE '%GOLD%' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ilike,
           CAST(sum(CASE WHEN regexp_matches(p_name, 'spring|autumn')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_rlike,
           CAST(sum(CASE WHEN p_name LIKE '%o%' AND p_name LIKE '%e%'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_like_all,
           CAST(sum(CASE WHEN p_name LIKE '%ros%' OR p_name LIKE '%bl%'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_like_any
    FROM part
    """,
)
def like_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LIKE predicate family in one scan: plain LIKE,
    case-insensitive ILIKE, regex RLIKE, and the multi-pattern
    LIKE ALL / LIKE ANY quantifiers (which Hive users otherwise
    hand-expand into AND/OR chains). All compile to JVM predicates
    inside one whole-stage-codegen pass — five predicates cost one
    scan, the reason quantified LIKE exists."""
    Catalog(spark, sf_dir).part.createOrReplaceTempView(
        "like_part_src"
    )
    return spark.sql(
        """
        SELECT CAST(sum(CASE WHEN p_name LIKE '%gold%'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_like,
               CAST(sum(CASE WHEN p_name ILIKE '%GOLD%'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_ilike,
               CAST(sum(CASE WHEN p_name RLIKE 'spring|autumn'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_rlike,
               CAST(sum(CASE WHEN p_name LIKE ALL ('%o%', '%e%')
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_like_all,
               CAST(sum(CASE WHEN p_name LIKE ANY ('%ros%', '%bl%')
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_like_any
        FROM like_part_src
        """
    )


@query(
    "string_funcs_wave4",
    oracle="""
    SELECT p_partkey,
           array_to_string(list_transform(string_split(p_name, ' '),
               w -> upper(w[1:1]) || lower(w[2:])), ' ') AS title_name,
           substr(p_name, 1, 2) || 'XX' || substr(p_name, 5)
               AS overlaid,
           left(p_name, 4) AS l4,
           right(p_name, 4) AS r4,
           printf('%s|%03d', p_name, p_size) AS tagged,
           prefix(p_name, 'b') AS starts_b,
           suffix(p_name, 'e') AS ends_e,
           contains(p_name, 'ol') AS has_ol,
           CAST(len(regexp_extract_all(p_name, '[aeiou]+'))
                AS INTEGER) AS vowel_runs
    FROM part WHERE p_partkey < 2000 ORDER BY p_partkey
    """,
)
def string_funcs_wave4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining string built-ins: initcap (oracle rebuilds it
    word-by-word — DuckDB has no initcap), overlay (PLACING/FROM
    replacement), left/right, format_string printf templates,
    startswith/endswith/contains predicates, and regexp_extract_all
    run counts. Map-only single scan."""
    p = Catalog(spark, sf_dir).part.where(F.col("p_partkey") < 2000)
    return p.select(
        "p_partkey",
        F.initcap("p_name").alias("title_name"),
        F.overlay("p_name", F.lit("XX"), F.lit(3)).alias("overlaid"),
        F.expr("left(p_name, 4)").alias("l4"),
        F.expr("right(p_name, 4)").alias("r4"),
        F.format_string("%s|%03d", "p_name", "p_size").alias("tagged"),
        F.startswith("p_name", F.lit("b")).alias("starts_b"),
        F.endswith("p_name", F.lit("e")).alias("ends_e"),
        F.contains("p_name", F.lit("ol")).alias("has_ol"),
        F.size(
            F.expr("regexp_extract_all(p_name, '[aeiou]+', 0)")
        ).alias("vowel_runs"),
    ).orderBy("p_partkey")


@query(
    "string_funcs_wave5",
    oracle="""
    SELECT p_partkey,
           list_extract(string_split(p_brand, '#'), 2) AS brand_no,
           CASE WHEN p_partkey % 3 = 0 THEN 'alpha'
                WHEN p_partkey % 3 = 1 THEN 'beta'
                ELSE 'gamma' END AS elt_pick,
           COALESCE(list_position(string_split('red,green,blue,ivory',
                                               ','),
                    lower(list_extract(string_split(p_name, ' '), 1))),
                    0) AS set_pos,
           strlen(p_name) AS n_chars,
           p_name AS url_roundtrip,
           (list_reduce(
              list_transform(
                list_reverse(list_transform(
                  string_split_regex(CAST(p_partkey AS VARCHAR), ''),
                  x -> CAST(x AS INT))),
                (d, i) -> CASE WHEN i % 2 = 0
                               THEN CASE WHEN d * 2 > 9 THEN d * 2 - 9
                                         ELSE d * 2 END
                               ELSE d END),
              (a, b) -> a + b) % 10) = 0 AS luhn_ok
    FROM part WHERE p_partkey BETWEEN 1 AND 300
    ORDER BY p_partkey
    """,
)
def string_funcs_wave5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String builtins wave 5. ``elt`` picks the (1-based) Nth
    argument; ``find_in_set`` searches a comma-list (0 when absent);
    ``char_length`` aliases length; ``url_decode(url_encode(x)) = x``
    is checked as a round-trip because DuckDB has no URL codec; and
    ``luhn_check`` of the zero-padded part key is mirrored in the
    oracle by an explicit Luhn fold (double every second digit from
    the right, subtract 9 over 9, sum % 10 == 0) — parity proves
    Spark's builtin implements the published algorithm. The Luhn
    oracle's (d, i) lambda index is 1-based in DuckDB vs 0-based in
    Spark (the documented trap), hence i % 2 == 0 there for the
    'odd position from the right' rule."""
    p = Catalog(spark, sf_dir).part
    return (
        p.where(F.col("p_partkey").between(1, 300))
        .select(
            "p_partkey",
            F.element_at(F.split("p_brand", "#"), 2).alias("brand_no"),
            F.elt(
                F.pmod("p_partkey", F.lit(3)) + 1,
                F.lit("alpha"),
                F.lit("beta"),
                F.lit("gamma"),
            ).alias("elt_pick"),
            F.expr(
                "find_in_set(lower(split(p_name, ' ')[0]),"
                " 'red,green,blue,ivory')"
            ).cast("long").alias("set_pos"),
            F.char_length("p_name").cast("long").alias("n_chars"),
            F.url_decode(F.url_encode("p_name")).alias("url_roundtrip"),
            F.expr("luhn_check(cast(p_partkey as string))").alias(
                "luhn_ok"
            ),
        )
        .orderBy("p_partkey")
    )


@query(
    "mask_funcs",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n',
               'g') AS masked_default,
           regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', '#',
               'g') AS masked_custom,
           regexp_replace(c_name, '[0-9]', '*', 'g') AS digits_only
    FROM customer WHERE c_custkey < 200 ORDER BY c_custkey
    """,
)
def mask_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mask()`` — the Hive column-redaction builtin (upper→X,
    lower→x, digit→n by default; custom replacement chars per class;
    -1/NULL keeps a class). The oracle reconstructs each masking rule
    from character-class regexes applied in a class-safe order
    (upper, then lower, then digits — replacements never fall into a
    later class), so a semantic drift in the builtin breaks parity.
    digits_only masks digits while keeping letters (the '*' digit
    mask with upper/lower passed through)."""
    c = Catalog(spark, sf_dir).customer
    return (
        c.where(F.col("c_custkey") < 200)
        .select(
            "c_custkey",
            F.expr("mask(c_name)").alias("masked_default"),
            F.expr("mask(c_name, 'U', 'l', '#')").alias(
                "masked_custom"
            ),
            F.expr("mask(c_name, NULL, NULL, '*')").alias(
                "digits_only"
            ),
        )
        .orderBy("c_custkey")
    )


@query(
    "sentences_tokenize",
    oracle="""
    WITH src AS (
      SELECT p_partkey, p_name,
             upper(substr(p_type, 1, 1)) || lower(substr(p_type, 2))
                 AS t2
      FROM part WHERE p_partkey < 150),
    s AS (
      SELECT p_partkey, 0 AS sentence_idx,
             string_split(p_name, ' ') AS toks FROM src
      UNION ALL
      SELECT p_partkey, 1, [t2] FROM src)
    SELECT p_partkey, sentence_idx,
           CAST(len(toks) AS INT) AS n_tokens,
           array_to_string(toks, '|') AS tokens
    FROM s ORDER BY p_partkey, sentence_idx
    """,
)
def sentences_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``sentences()`` UDF: sentence-boundary segmentation +
    per-sentence word tokenization (array<array<string>>). Input text
    is constructed deterministically — "<p_name>. <Initcap(p_type)>!"
    (the second sentence MUST start uppercase: the underlying
    BreakIterator merges a lowercase continuation into the previous
    sentence) — so the oracle can replay the expected segmentation
    exactly: two sentences, the first splitting into p_name's words,
    the second the single type token. posexplode gives the sentence index; the
    nested array is flattened to a joined string for the gate's
    pandas canonicalizer."""
    p = Catalog(spark, sf_dir).part
    text = F.concat(
        F.col("p_name"),
        F.lit(". "),
        F.initcap(F.lower("p_type")),
        F.lit("!"),
    )
    return (
        p.where(F.col("p_partkey") < 150)
        .select(
            "p_partkey",
            F.posexplode(F.sentences(text)).alias(
                "sentence_idx", "toks"
            ),
        )
        .select(
            "p_partkey",
            "sentence_idx",
            F.size("toks").alias("n_tokens"),
            F.concat_ws("|", "toks").alias("tokens"),
        )
        .orderBy("p_partkey", "sentence_idx")
    )


@query(
    "fuzzy_match",
    oracle="""
    SELECT p_partkey,
           levenshtein(split_part(p_name, ' ', 1),
                       split_part(p_name, ' ', 2)) AS lev_within,
           levenshtein(p_brand, 'Brand#1') AS lev_brand,
           coalesce(array_to_string(regexp_extract_all(p_name, '[a-z]{4,}'),
                                    chr(31)), '') AS long_words
    FROM part WHERE p_partkey < 300 ORDER BY p_partkey
    """,
)
def fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-matching family: levenshtein edit distance (entity-
    resolution primitive) + regexp_extract_all array extraction. At
    scale, edit distance belongs AFTER a blocking join (never pairwise
    across the corpus) — here it scores within-row name tokens. The
    extracted array is unit-separator-joined (order is positional, so
    no sort needed) — raw list cells crash the driver's pandas
    canonicalization (unhashable type)."""
    p = Catalog(spark, sf_dir).part
    w1 = F.split_part(F.col("p_name"), F.lit(" "), F.lit(1))
    w2 = F.split_part(F.col("p_name"), F.lit(" "), F.lit(2))
    return (
        p.where(F.col("p_partkey") < 300)
        .select(
            "p_partkey",
            F.levenshtein(w1, w2).alias("lev_within"),
            F.levenshtein("p_brand", F.lit("Brand#1")).alias("lev_brand"),
            F.concat_ws(
                "\x1f",
                F.regexp_extract_all("p_name", F.lit("[a-z]{4,}"), 0),
            ).alias("long_words"),
        )
        .orderBy("p_partkey")
    )


@query(
    "url_parse",
    oracle="""
    SELECT doc_id,
           'ex.com' AS host,
           '/' || source || '/p' AS path,
           'q=' || lang || '&id=' || doc_id AS query,
           CAST(doc_id AS VARCHAR) AS id_param
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive parse_url family: HOST / PATH / QUERY / QUERY:key
    extraction from a URL column."""
    d = Catalog(spark, sf_dir).documents
    url = F.concat(
        F.lit("https://ex.com/"), F.col("source"),
        F.lit("/p?q="), F.col("lang"),
        F.lit("&id="), F.col("doc_id").cast("string"),
    )
    return (
        d.where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.parse_url(url, F.lit("HOST")).alias("host"),
            F.parse_url(url, F.lit("PATH")).alias("path"),
            F.parse_url(url, F.lit("QUERY")).alias("query"),
            F.parse_url(url, F.lit("QUERY"), F.lit("id")).alias("id_param"),
        )
        .orderBy("doc_id")
    )


@query(
    "format_number_grouped",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_orderkey < 500)
    SELECT o_orderpriority,
           format('{:,}', max(c) // 100) || '.' ||
               lpad(CAST(max(c) % 100 AS VARCHAR), 2, '0')
               AS max_price_fmt,
           count(*) AS n
    FROM cents GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def format_number_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive format_number (locale thousands separators): the formatted
    string must equal a digit-exact reconstruction from integer cents
    (DuckDB builds it with format('{:,}') on the integer part — no
    float ever gets formatted, so the comma grouping is the only thing
    under test)."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 500)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.expr("format_number(round(max(o_totalprice), 2), 2)").alias(
                "max_price_fmt"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "str_to_map_parse",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority AS prio_rt,
           o_orderstatus AS stat_rt,
           CAST(2 AS INTEGER) AS n_keys
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
)
def str_to_map_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive str_to_map: a "k:v,k:v" config string is built from order
    fields, parsed back with str_to_map, and the extracted values must
    round-trip to the originals (the oracle recomputes them from the
    source columns directly, so any parse drift breaks parity). The
    'settings-string column' parse is a daily Hive-ETL chore; map-only
    expression work."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 500)
    packed = F.concat(
        F.lit("prio:"),
        F.col("o_orderpriority"),
        F.lit(",stat:"),
        F.col("o_orderstatus"),
    )
    m = F.expr("str_to_map(packed, ',', ':')")
    return (
        o.select("o_orderkey", packed.alias("packed"))
        .select(
            "o_orderkey",
            m["prio"].alias("prio_rt"),
            m["stat"].alias("stat_rt"),
            F.size(F.map_keys(m)).alias("n_keys"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------
# multibyte length semantics
# --------------------------------------------------------------------

@query(
    "multibyte_length_semantics",
    oracle="""
    WITH m AS (
      SELECT p_brand,
             replace(p_name, 'a', chr(233)) AS s
      FROM part)
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(length(s)) AS BIGINT) AS sum_chars,
           CAST(sum(strlen(s)) AS BIGINT) AS sum_bytes,
           CAST(sum(bit_length(s)) AS BIGINT) AS sum_bits
    FROM m GROUP BY p_brand ORDER BY p_brand
    """,
)
def multibyte_length_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """char_length vs octet_length vs bit_length once the corpus
    stops being ASCII: every 'a' becomes é (2 bytes in UTF-8), so
    bytes > chars exactly by the é count and bits = 8·bytes — the
    three length families diverge measurably instead of aliasing
    each other (DuckDB: length counts chars, strlen counts BYTES —
    opposite of what the names suggest)."""
    p = Catalog(spark, sf_dir).part
    m = p.select(
        "p_brand",
        F.replace(F.col("p_name"), F.lit("a"), F.lit("é")).alias("s"),
    )
    return (
        m.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.length("s")).cast("long").alias("sum_chars"),
            F.sum(F.octet_length("s")).cast("long").alias("sum_bytes"),
            F.sum(F.bit_length("s")).cast("long").alias("sum_bits"),
        )
        .orderBy("p_brand")
    )


_MISC_ORACLE = """
SELECT 'a9993e364706816aba3e25717850c26c9cd0d89d' AS sha1_abc,
       CAST(891568578 AS BIGINT) AS crc32_abc,
       CAST(1 AS BIGINT) AS bit2_of_13,
       CAST(0 AS BIGINT) AS bit1_of_13,
       CAST(((CAST(-8 AS HUGEINT) + 18446744073709551616) >> 60)
            AS BIGINT) AS sru_neg8_60,
       'hi' AS btrimmed,
       CAST(5 AS BIGINT) AS charlen_accented,
       CAST(5 AS BIGINT) AS ceil_42,
       'AB' AS ucased,
       CAST(json_array_length('[1,2,3]') AS BIGINT) AS jarr_len,
       array_to_string(json_keys('{"a":1,"b":2}'), ',') AS jobj_keys,
       true AS map_has_key,
       false AS map_lacks_key
"""


@query("string_bit_misc_matrix", oracle=_MISC_ORACLE)
def string_bit_misc_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The residual builtin odds-and-ends: sha1 (DuckDB lacks it —
    the RFC 3174 digest of 'abc' is pinned literally), crc32,
    bit_get at set and unset positions, shiftrightunsigned probed on
    a NEGATIVE int64 (the >>> semantics: the oracle replays it as
    (x + 2^64) >> n in HUGEINT), btrim, character_length on an
    accented string (codepoints, not bytes), ceiling, ucase,
    json_array_length / json_object_keys (DuckDB: json_keys), and
    map_contains_key both ways. Constant-folded literal grid."""
    return spark.sql(
        """
        SELECT sha1('abc') AS sha1_abc,
               CAST(crc32('abc') AS BIGINT) AS crc32_abc,
               CAST(bit_get(13, 2) AS BIGINT) AS bit2_of_13,
               CAST(bit_get(13, 1) AS BIGINT) AS bit1_of_13,
               CAST(shiftrightunsigned(CAST(-8 AS BIGINT), 60)
                    AS BIGINT) AS sru_neg8_60,
               btrim('  hi  ') AS btrimmed,
               CAST(character_length('héllo') AS BIGINT)
                   AS charlen_accented,
               CAST(ceiling(4.2) AS BIGINT) AS ceil_42,
               ucase('ab') AS ucased,
               CAST(json_array_length('[1,2,3]') AS BIGINT)
                   AS jarr_len,
               concat_ws(',', json_object_keys('{"a":1,"b":2}'))
                   AS jobj_keys,
               map_contains_key(map(1, 'x'), 1) AS map_has_key,
               map_contains_key(map(1, 'x'), 2) AS map_lacks_key
        """
    )


@query(
    "number_format_roundtrip",
    oracle="""
    WITH c AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_totalprice
      FROM orders WHERE o_orderkey < 2000)
    SELECT o_orderkey,
           '$' || format('{:,}', cents // 100) || '.'
               || lpad(CAST(cents % 100 AS VARCHAR), 2, '0')
               AS formatted,
           round(o_totalprice, 2) AS reparsed
    FROM c ORDER BY o_orderkey
    """,
)
def number_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_char / to_number format-template round trip (Oracle-style
    '$9,999.99' templates, Spark 3.4): each price renders to a
    grouped currency string and parses back to exactly the original
    value — the ETL pattern for ingesting formatted numerics from
    mainframe/report extracts. The oracle reproduces the rendering
    with format('{:,.2f}') and expects the reparse to equal the
    source, so a lossy template (too few 9s, dropped cents) breaks
    parity."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 2000)
    fmt = "$999,999,999.99"
    formatted = F.expr(f"to_char(o_totalprice, '{fmt}')")
    return o.select(
        "o_orderkey",
        F.regexp_replace(formatted, " ", "").alias("formatted"),
        F.round(
            F.expr(
                f"to_number(to_char(o_totalprice, '{fmt}'), '{fmt}')"
            ).cast("double"),
            2,
        ).alias("reparsed"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------
# CHAR(n) / VARCHAR(n) length semantics
# --------------------------------------------------------------------

@query(
    "char_varchar_semantics",
    oracle="""
    SELECT concat('[', rpad(p_brand, 12, ' '), ']') AS brand_vis,
           CAST(12 AS INT) AS pad_len,
           (p_brand = 'Brand#11') AS is_brand11,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(strlen(p_type)) AS INT) AS max_type_len
    FROM part GROUP BY p_brand ORDER BY brand_vis
    """,
)
def char_varchar_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive CHAR(n)/VARCHAR(n) semantics on a managed table: CHAR(12)
    values read back BLANK-PADDED to exactly 12 (length() sees the
    pad), comparison against a shorter literal still matches because
    the literal is pad-extended, and VARCHAR(30) enforces max length
    at write (overflow raises — asserted in tests, not here). The
    padding is a READ-side decoration over the same parquet bytes, so
    the choice costs nothing at scale."""
    fresh_managed_table(spark, "cv9_part")
    spark.sql(
        "CREATE TABLE cv9_part (b CHAR(12), t VARCHAR(30)) "
        "USING parquet"
    )
    Catalog(spark, sf_dir).part.createOrReplaceTempView("part_cv9")
    spark.sql(
        "INSERT INTO cv9_part SELECT p_brand, p_type FROM part_cv9"
    )
    return spark.sql(
        """
        SELECT concat('[', b, ']') AS brand_vis,
               CAST(length(b) AS INT) AS pad_len,
               (b = 'Brand#11') AS is_brand11,
               count(*) AS n,
               CAST(max(length(t)) AS INT) AS max_type_len
        FROM cv9_part GROUP BY b ORDER BY brand_vis
        """
    )


#: 16-byte AES key used by crypto_funcs_roundtrip (a test vector, not
#: a secret — both sides of the parity check are in this repo).
_AES_KEY = "0123456789abcdef"


@query(
    "crypto_funcs_roundtrip",
    oracle="""
    SELECT c_custkey, c_name AS decrypted,
           CAST(16 * (strlen(c_name) // 16 + 1) AS BIGINT)
               AS cipher_len,
           TRUE AS wrong_key_is_null,
           sha256(c_name) AS sha_hex
    FROM customer WHERE c_custkey < 100 ORDER BY c_custkey
    """,
)
def crypto_funcs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level crypto surface (Hive 4 / Spark aes_* builtins):
    aes_encrypt → aes_decrypt round-trip in deterministic ECB/PKCS
    mode, try_aes_decrypt's NULL contract on a wrong key, and sha2
    digests. DuckDB has no AES, so the oracle verifies the
    INVARIANTS: decrypt(encrypt(x)) must equal x, the PKCS ciphertext
    length is exactly 16·(⌊len/16⌋+1) bytes, a wrong key yields NULL
    (not an error), and the sha256 hex digest matches DuckDB's
    independent implementation. All map-side, no shuffle."""
    c = Catalog(spark, sf_dir).customer
    key = F.lit(_AES_KEY).cast("binary")
    bad_key = F.lit("ffffffffffffffff").cast("binary")
    enc = F.aes_encrypt(
        F.col("c_name").cast("binary"), key, F.lit("ECB"), F.lit("PKCS")
    )
    return (
        c.where(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            F.aes_decrypt(enc, key, F.lit("ECB"), F.lit("PKCS"))
            .cast("string")
            .alias("decrypted"),
            F.length(enc).cast("long").alias("cipher_len"),
            F.try_aes_decrypt(enc, bad_key, F.lit("ECB"), F.lit("PKCS"))
            .isNull()
            .alias("wrong_key_is_null"),
            F.sha2(F.col("c_name").cast("binary"), 256).alias("sha_hex"),
        )
        .orderBy("c_custkey")
    )


@query(
    "hash_funcs",
    oracle="""
    SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha256
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
)
def hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic hash family (md5 / sha2-256) — hex parity with
    the oracle proves byte-identical canonicalization."""
    d = Catalog(spark, sf_dir).documents
    return (
        d.where(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.md5("text").alias("text_md5"),
            F.sha2("text", 256).alias("text_sha256"),
        )
        .orderBy("doc_id")
    )


@query(
    "binary_codec_roundtrip",
    oracle="""
    SELECT c_custkey,
           c_name AS utf8_roundtrip,
           hex(CAST(c_name AS BLOB)) AS hex_str,
           c_name AS unhex_roundtrip,
           base64(CAST(c_name AS BLOB)) AS b64,
           CAST(strlen(c_name) AS BIGINT) AS n_bytes
    FROM customer WHERE c_custkey < 150 ORDER BY c_custkey
    """,
)
def binary_codec_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary codec chains: encode/decode (UTF-8), hex with DuckDB
    computing the same hex independently, unhex(hex(x)) → original,
    base64 cross-checked against DuckDB's encoder, and octet length.
    to_binary(…, 'hex') exercises the Spark-4 entry point of the
    unhex path. ASCII input keeps byte length == char length, which
    n_bytes pins."""
    c = Catalog(spark, sf_dir).customer
    name_bin = F.encode("c_name", "UTF-8")
    return (
        c.where(F.col("c_custkey") < 150)
        .select(
            "c_custkey",
            F.decode(F.encode("c_name", "UTF-8"), "UTF-8").alias(
                "utf8_roundtrip"
            ),
            F.hex(name_bin).alias("hex_str"),
            F.expr(
                "cast(to_binary(hex(encode(c_name, 'UTF-8')), 'hex')"
                " as string)"
            ).alias("unhex_roundtrip"),
            F.base64(name_bin).alias("b64"),
            F.octet_length("c_name").cast("long").alias("n_bytes"),
        )
        .orderBy("c_custkey")
    )


@query(
    "binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           hex(substring(text, 1, 4)) AS magic_hex,
           CASE WHEN substring(text, 1, 4) = 'key '
                THEN 'sniffed/key' ELSE 'application/octet-stream'
           END AS sniffed_type
    FROM documents ORDER BY doc_id
    """,
)
def binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata pass over an opaque binary column — byte
    length, content digest, magic-byte sniffing — everything a media
    pipeline does BEFORE decoding, as pure JVM expressions with a full
    oracle. (Decode itself is the stubbed mapInPandas in
    ``multimodal_meta``.) At 100 TB this is the cheap map-only triage
    that routes payloads to per-type decode stages."""
    d = Catalog(spark, sf_dir).documents
    payload = F.encode("text", "utf-8")
    magic = F.substring(F.col("text"), 1, 4)
    return d.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("digest"),
        F.hex(F.encode(magic, "utf-8")).alias("magic_hex"),
        F.when(magic == "key ", "sniffed/key")
        .otherwise("application/octet-stream")
        .alias("sniffed_type"),
    ).orderBy("doc_id")


@query(
    "json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive get_json_object over the events.props JSON column →
    typed aggregation (the semi-structured column pattern)."""
    ev = Catalog(spark, sf_dir).events
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).cast("long").alias("sum_k"),
            F.min(k).cast("long").alias("min_k"),
        )
        .orderBy("event_type")
    )


@query(
    "typed_json",
    oracle="""
    SELECT event_type,
           count(*) FILTER (WHERE CAST(json_extract_string(props, '$.k')
                AS INTEGER) >= 50) AS n_high,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4)
               AS avg_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def typed_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read typed JSON: from_json(props, 'k INT') → struct
    field access (vs. the stringly get_json_object path in
    json_extract) → conditional aggregation."""
    ev = Catalog(spark, sf_dir).events
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_if(k >= 50).alias("n_high"),
            F.round(F.avg(k), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@query(
    "json_tuple",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(count(json_extract_string(props, '$.missing'))
                AS BIGINT) AS n_missing
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def json_tuple_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive LATERAL VIEW json_tuple: one parse extracting N keys per
    row (vs N get_json_object re-parses) — map-only, and the absent
    key exercises the NULL path. Run as raw HiveQL: the LATERAL VIEW
    syntax itself is the surface under test."""
    Catalog(spark, sf_dir).events.createOrReplaceTempView(
        "events_jt_src"
    )
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n,
               sum(CAST(jt.k AS BIGINT)) AS sum_k,
               count(jt.missing) AS n_missing
        FROM events_jt_src
        LATERAL VIEW json_tuple(props, 'k', 'missing') jt AS k, missing
        GROUP BY event_type ORDER BY event_type
        """
    )


@query(
    "xpath_extract",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders WHERE o_orderkey < 2000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive xpath UDF family: per-row XML is built from the order,
    then xpath_string/xpath_long must recover the original fields
    exactly (aggregation over the extracted values ≡ aggregation over
    the source, which is what the oracle checks — any xpath
    mis-extraction breaks parity). Money rides as integer cents so no
    float ever transits the string form."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 2000)
    xml = F.concat(
        F.lit("<order><pri>"), F.col("o_orderpriority"),
        F.lit("</pri><cents>"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.lit("</cents></order>"),
    )
    parsed = o.select(xml.alias("x")).select(
        F.expr("xpath_string(x, 'order/pri')").alias("o_orderpriority"),
        F.expr("xpath_long(x, 'order/cents')").alias("cents"),
    )
    return (
        parsed.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "xml_roundtrip",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status_back,
           CAST(o_custkey AS BIGINT) AS custkey_back,
           CAST(o_custkey AS BIGINT) AS xpath_custkey,
           upper(o_orderstatus) = o_orderstatus AS status_is_upper
    FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey
    """,
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 XML functions: to_xml serializes a struct of real
    row fields, from_xml parses it back with an explicit schema, and
    xpath_long re-extracts a field from the raw XML string. DuckDB
    has no XML support, so the oracle checks the invariant — every
    field survives the round-trip unchanged and the xpath extraction
    equals the source column. Map-side only."""
    o = Catalog(spark, sf_dir).orders
    xml = F.to_xml(
        F.struct(
            F.col("o_orderstatus").alias("st"),
            F.col("o_custkey").alias("ck"),
        )
    )
    parsed = F.from_xml(xml, "st STRING, ck BIGINT")
    return (
        o.where(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            parsed.getField("st").alias("status_back"),
            parsed.getField("ck").cast("long").alias("custkey_back"),
            F.expr(
                "xpath_long(to_xml(struct(o_orderstatus AS st,"
                " o_custkey AS ck)), '/ROW/ck')"
            )
            .cast("long")
            .alias("xpath_custkey"),
            (F.upper(parsed.getField("st")) == parsed.getField("st"))
            .alias("status_is_upper"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "variant_semistructured",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           CAST(count(json_extract_string(props, '$.absent') )
                AS BIGINT) AS n_absent
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: props parsed ONCE into a shredded binary
    variant (parse_json), then typed variant_get extractions — the
    engine-native semi-structured path that replaces N re-parses with
    one. Missing paths return NULL (n_absent pins that semantic).
    At 100 TB, variant shredding also unlocks columnar pushdown into
    the JSON that string get_json_object can never see."""
    ev = Catalog(spark, sf_dir).events
    v = F.parse_json("props")
    return (
        ev.select("event_type", v.alias("v"))
        .select(
            "event_type",
            F.variant_get("v", "$.k", "long").alias("k"),
            F.variant_get("v", "$.absent", "long").alias("absent"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count("absent").alias("n_absent"),
        )
        .orderBy("event_type")
    )


@query(
    "variant_functions_wave2",
    oracle="""
    SELECT event_id,
           'OBJECT<k: BIGINT>' AS vschema,
           FALSE AS top_is_null,
           CAST(json_extract_string(props, '$.k') AS VARCHAR)
               AS first_val,
           'k' AS first_key,
           1 AS n_fields,
           TRUE AS bad_parse_is_null
    FROM events
    WHERE event_type = 'purchase'
      AND json_extract_string(props, '$.k') IS NOT NULL
      AND event_id < 2000
    ORDER BY event_id
    """,
)
def variant_functions_wave2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VARIANT tool-belt wave 2 (Spark 4): parse_json into a VARIANT,
    schema_of_variant (pinned against the known payload shape),
    is_variant_null (JSON null vs SQL NULL distinction),
    variant_explode as a LATERAL table function over the object's
    fields, and try_parse_json's NULL-on-garbage contract. The
    exploded field values are cast to string before output — raw
    VARIANT cells can't survive the gate's pandas canonicalizer."""
    ev = Catalog(spark, sf_dir).events
    ev.where(
        (F.col("event_type") == "purchase")
        & (F.col("event_id") < 2000)
        & F.get_json_object("props", "$.k").isNotNull()
    ).createOrReplaceTempView("variant_w2_src")
    return spark.sql(
        """
        SELECT event_id,
               schema_of_variant(parse_json(props)) AS vschema,
               is_variant_null(parse_json(props)) AS top_is_null,
               CAST(ve.value AS STRING) AS first_val,
               ve.key AS first_key,
               CAST(count(*) OVER (PARTITION BY event_id) AS INT)
                   AS n_fields,
               try_parse_json('{not json') IS NULL
                   AS bad_parse_is_null
        FROM variant_w2_src,
             LATERAL variant_explode(parse_json(props)) ve
        WHERE ve.pos = 0
        ORDER BY event_id
        """
    )


@query(
    "json_schema_inference",
    oracle="""
    SELECT 'STRUCT<k: BIGINT>' AS inferred_schema,
           count(*) AS n_parsed,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum
    FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
)
def json_schema_inference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Schema inference for semi-structured columns: sample a
    document (deterministically: the min-event_id row — a bounded
    1-row driver read, the same planning-time sampling pass
    spark.read.json performs), infer its schema with schema_of_json,
    then parse the WHOLE column with the inferred schema and
    aggregate through the typed struct. Parity pins the inferred
    schema STRING itself (a type-mapping drift breaks the oracle)
    and proves the full-column parse agrees with path extraction.
    Scale: inference cost is O(sample), the parse is one map-side
    from_json over the corpus."""
    ev = Catalog(spark, sf_dir).events
    sample = (
        ev.orderBy("event_id").select("props").limit(1).collect()[0][0]
    )
    # schema_of_json over a literal Column — no hand-built SQL string,
    # so backslashes/quotes in the sampled document can't be re-parsed
    # as SQL escapes and corrupt the sample
    schema_str = (
        spark.range(1)
        .select(F.schema_of_json(F.lit(sample)).alias("s"))
        .collect()[0][0]
    )
    parsed = ev.select(
        F.from_json(F.col("props"), schema_str).alias("j")
    ).where(F.col("j.k").isNotNull())
    return parsed.agg(
        F.lit(schema_str).alias("inferred_schema"),
        F.count(F.lit(1)).alias("n_parsed"),
        F.sum("j.k").cast("long").alias("k_sum"),
    ).select("inferred_schema", "n_parsed", "k_sum")


@query(
    "nested_struct_json",
    oracle="""
    SELECT o_orderkey,
           to_json({'status': o_orderstatus,
                    'price': round(o_totalprice, 2),
                    'tags': [o_orderpriority, o_orderstatus]})
               AS doc
    FROM orders WHERE o_orderkey < 400 ORDER BY o_orderkey
    """,
)
def nested_struct_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct construction + JSON serialization: named_struct
    with a nested array serialized via to_json — the export shape for
    document sinks (search indexes, feature stores). Both engines emit
    the identical compact JSON encoding, so parity pins field order,
    number formatting, and array nesting. Map-only."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 400)
    doc = F.to_json(
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.round("o_totalprice", 2).alias("price"),
            F.array("o_orderpriority", "o_orderstatus").alias("tags"),
        )
    )
    return o.select("o_orderkey", doc.alias("doc")).orderBy("o_orderkey")


# --------------------------------------------------------------------
# from_csv / to_csv / schema_of_csv expressions
# --------------------------------------------------------------------

@query(
    "from_csv_expressions",
    oracle=f"""
    SELECT o_orderpriority AS p,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents,
           'STRUCT<_c0: INT, _c1: STRING, _c2: DOUBLE>'
               AS inferred_schema
    FROM orders WHERE o_orderkey < 3000
    GROUP BY p ORDER BY p
    """,
)
def from_csv_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV as an EXPRESSION (not a source): to_csv(struct) serializes
    each row to one line, from_csv parses it back under an explicit
    DDL schema, and the parsed fields drive the aggregation — value
    parity vs the raw columns proves the codec round-trips. Plus the
    schema_of_csv inference surface as a constant. This is the scale
    path for embedded-CSV columns (a string field holding CSV inside
    a bigger record): parse in the JVM row-by-row, never re-read."""
    o = Catalog(spark, sf_dir).orders
    lines = o.where(F.col("o_orderkey") < 3000).select(
        F.to_csv(
            F.struct(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("p"),
                F.expr(ORDER_CENTS).alias("c"),
            )
        ).alias("line")
    )
    parsed = lines.select(
        F.from_csv(
            F.col("line"), "k BIGINT, p STRING, c BIGINT"
        ).alias("r")
    )
    return (
        parsed.groupBy(F.col("r.p").alias("p"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("r.c").alias("cents"),
        )
        .withColumn(
            "inferred_schema",
            F.schema_of_csv(F.lit("7,abc,1.5")),
        )
        .orderBy("p")
    )

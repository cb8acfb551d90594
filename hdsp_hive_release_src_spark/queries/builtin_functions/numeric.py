"""Builtin functions: numeric, aggregate and type-conversion builtins.

Rounding, bases, bitwise, trigonometric and TRY_* families, statistical
and regression aggregates, percentiles, conditional aggregates, null
handling, spatial WKB and the nondeterminism contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import ORDER_CENTS, Catalog
from hdsp_hive_release_src_spark.registry import query


@query(
    "rounding_modes",
    oracle="""
    SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
           round(p_retailprice / 10, 0) AS half_up,
           round_even(p_retailprice / 10, 0) AS half_even,
           CAST(round(p_retailprice / 10, 0)
                <> round_even(p_retailprice / 10, 0) AS BOOLEAN)
               AS diverges
    FROM part WHERE p_partkey < 400 ORDER BY p_partkey
    """,
)
def rounding_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HALF_UP round() vs HALF_EVEN bround() (banker's rounding) — the
    two modes financial reports disagree on at exact .5 boundaries;
    the diverges flag marks exactly those rows. Spark bround pairs
    with DuckDB round_even, Spark round with DuckDB round — parity
    proves both engines implement both modes identically."""
    p = Catalog(spark, sf_dir).part.where(F.col("p_partkey") < 400)
    x = F.col("p_retailprice") / 10
    return p.select(
        "p_partkey",
        F.round(x, 0).alias("half_up"),
        F.bround(x, 0).alias("half_even"),
        (F.round(x, 0) != F.bround(x, 0)).alias("diverges"),
    ).orderBy("p_partkey")


@query(
    "conv_bases",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           to_base(o_orderkey, 16) AS hex,
           to_base(o_orderkey, 2) AS bin,
           to_base(o_orderkey, 8) AS oct
    FROM orders WHERE o_orderkey < 600 AND o_orderkey > 0
    ORDER BY o_orderkey
    """,
)
def conv_bases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive conv() radix conversion (10→16/2/8) — checksum/id-encoding
    chores; DuckDB's to_base is the exact twin (both emit uppercase
    digits, no padding). Map-only."""
    o = Catalog(spark, sf_dir).orders.where(
        (F.col("o_orderkey") < 600) & (F.col("o_orderkey") > 0)
    )
    k = F.col("o_orderkey").cast("string")
    return o.select(
        "o_orderkey",
        F.conv(k, 10, 16).alias("hex"),
        F.conv(k, 10, 2).alias("bin"),
        F.conv(k, 10, 8).alias("oct"),
    ).orderBy("o_orderkey")


@query(
    "try_cast_family",
    oracle="""
    SELECT o_orderkey,
           TRY_CAST('x' || o_orderstatus AS BIGINT) AS bad_cast,
           TRY_CAST(o_orderkey AS SMALLINT) AS narrow_cast,
           TRY_CAST(o_orderpriority[1:1] AS BIGINT) AS prio_digit
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
)
def try_cast_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast — NULL-on-failure casting (vs ANSI cast's job-killing
    error): a guaranteed-bad cast (NULL for every row), a narrowing
    cast that overflows to NULL only where the key exceeds smallint
    (DuckDB agrees on overflow→NULL under TRY_CAST), and a
    digit-prefix parse that succeeds. The ingest-hardening idiom
    alongside try_arithmetic and the PERMISSIVE CSV quarantine."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.expr(
            "TRY_CAST(concat('x', o_orderstatus) AS BIGINT)"
        ).alias("bad_cast"),
        F.expr("TRY_CAST(o_orderkey AS SMALLINT)").alias("narrow_cast"),
        F.expr(
            "TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT)"
        ).alias("prio_digit"),
    ).orderBy("o_orderkey")


@query(
    "try_arithmetic",
    oracle="""
    SELECT
      count(*) AS n_rows,
      count(TRY_CAST(substr(p_brand, 7) AS INTEGER)) AS n_brand_ids,
      CAST(sum(COALESCE(TRY_CAST(substr(p_brand, 7) AS INTEGER), 0))
           AS BIGINT) AS brand_id_sum,
      count(TRY_CAST(p_type AS INTEGER)) AS n_type_numeric,
      round(sum(CASE WHEN p_size = 0 THEN NULL
                     ELSE p_retailprice / p_size END), 2)
          AS price_per_size_sum
    FROM part
    """,
)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic: try_cast salvages the numeric tail of
    'Brand#NN' (and proves non-numeric p_type casts to NULL, not an
    error), try_divide yields NULL on zero denominators. The oracle
    emulates try_divide with CASE (DuckDB int division by zero
    raises); TRY_CAST is native on both engines."""
    p = Catalog(spark, sf_dir).part
    brand_id = F.expr("try_cast(substr(p_brand, 7) AS INT)")
    return p.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(brand_id).alias("n_brand_ids"),
        F.sum(F.coalesce(brand_id, F.lit(0)))
        .cast("long").alias("brand_id_sum"),
        F.count(F.expr("try_cast(p_type AS INT)")).alias("n_type_numeric"),
        F.round(
            F.sum(F.try_divide(F.col("p_retailprice"), F.col("p_size"))), 2
        ).alias("price_per_size_sum"),
    )


# --------------------------------------------------------------------
# try_* arithmetic family
# --------------------------------------------------------------------

_I64_MAX = 9223372036854775807
_I64_MIN = -9223372036854775808


#: (label, x, y, s, idx) probe grid: int64 boundary adds/subs, an
#: overflowing multiply, division by zero, a non-numeric cast, and
#: element_at indexes {2, 5, -1} (0 is NOT probed: Spark's
#: try_element_at still raises INVALID_INDEX_OF_ZERO by spec).
_TRY_GRID = (
    ("add_ovf", _I64_MAX, 1, "1,234", 2),
    ("sub_ovf", _I64_MIN, 1, "12", 5),
    ("mul_ovf", 4611686018427387904, 4, "abc", -1),
    ("ok_small", 41, 2, "7", 2),
    ("div_zero", 10, 0, "99", 5),
)

_TRY_VALUES = ", ".join(
    f"('{l}', CAST({x} AS BIGINT), CAST({y} AS BIGINT), '{s}', {i})"
    for (l, x, y, s, i) in _TRY_GRID
)

_TRY_ORACLE = f"""
WITH g(label, x, y, s, idx) AS (VALUES {_TRY_VALUES}),
h AS (
  SELECT label, x, y, s, idx,
         CAST(x AS HUGEINT) + y AS ha,
         CAST(x AS HUGEINT) - y AS hs,
         CAST(x AS HUGEINT) * y AS hm
  FROM g)
SELECT label,
       CAST(CASE WHEN ha BETWEEN {_I64_MIN} AND {_I64_MAX}
                 THEN ha END AS BIGINT) AS add_r,
       CAST(CASE WHEN hs BETWEEN {_I64_MIN} AND {_I64_MAX}
                 THEN hs END AS BIGINT) AS sub_r,
       CAST(CASE WHEN hm BETWEEN {_I64_MIN} AND {_I64_MAX}
                 THEN hm END AS BIGINT) AS mul_r,
       CASE WHEN y = 0 THEN NULL
            ELSE CAST(x AS DOUBLE) / y END AS div_r,
       TRY_CAST(s AS BIGINT) AS cast_r,
       CAST(list_extract([10, 20, 30], idx) AS BIGINT) AS elem_r
FROM h ORDER BY label
"""


@query("try_arith_family", oracle=_TRY_ORACLE)
def try_arith_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``try_``-prefixed function surface: try_add/try_subtract/
    try_multiply return NULL on int64 overflow instead of raising
    (probed at both int64 boundaries and with a doubling overflow),
    try_divide NULLs division by zero, try_cast NULLs a non-numeric
    string, try_element_at NULLs an out-of-range index and supports
    negative from-the-end indexing. The oracle replays every cell
    with HUGEINT range guards — the NULL pattern itself is the
    verified output. Literal 5-row grid; no table scan."""
    df = spark.sql(
        f"SELECT * FROM (VALUES {_TRY_VALUES})"
        " AS g(label, x, y, s, idx)"
    )
    return df.select(
        "label",
        F.expr("try_add(x, y)").cast("long").alias("add_r"),
        F.expr("try_subtract(x, y)").cast("long").alias("sub_r"),
        F.expr("try_multiply(x, y)").cast("long").alias("mul_r"),
        F.expr("try_divide(x, y)").alias("div_r"),
        F.expr("try_cast(s AS BIGINT)").alias("cast_r"),
        F.expr(
            "try_element_at(array(10L, 20L, 30L), cast(idx as int))"
        ).alias("elem_r"),
    ).orderBy("label")


_TRYCONV_ORACLE = """
SELECT
  true AS bad_date_is_null,
  TRY_CAST('2024-02-29' AS DATE) AS ok_date,
  CAST(TRY_CAST(replace('12,345', ',', '') AS BIGINT) AS BIGINT)
      AS ok_num,
  CAST(NULL AS BIGINT) AS bad_num,
  CAST(NULL AS BIGINT) AS mod_zero,
  CAST(10 % 3 AS BIGINT) AS mod_three,
  'spark.apache.org' AS url_host,
  '/path' AS url_path,
  CAST(NULL AS VARCHAR) AS bad_url_host,
  'a b!' AS url_decoded,
  CAST(NULL AS VARCHAR) AS bad_url_decoded,
  'deadbeef' AS hex_roundtrip,
  CAST(NULL AS VARCHAR) AS bad_hex,
  true AS utf8_valid,
  false AS utf8_invalid,
  'A' || chr(65533) || 'B' AS utf8_repaired,
  true AS eq_null_both,
  false AS eq_null_one,
  'a' AS nvl2_notnull,
  'b' AS nvl2_null,
  CAST(7 AS BIGINT) AS ifnull_v,
  CAST(NULL AS BIGINT) AS nullifzero_v,
  CAST(0 AS BIGINT) AS zeroifnull_v,
  'array<int>' AS typeof_arr
"""


@query("try_conversion_matrix", oracle=_TRYCONV_ORACLE)
def try_conversion_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The error-safe conversion matrix: every ``try_`` conversion
    builtin outside arithmetic (date, number-with-format, mod,
    parse_url, url_decode, to_binary) probed with one good and one
    bad input — NULL-on-error instead of job failure is the single
    most load-bearing semantic for 100 TB ingest (one malformed row
    must never kill a 1000-executor job) — plus the UTF-8 validation
    family (is_valid_utf8 / make_valid_utf8 repairs a broken byte to
    U+FFFD — the text-pipeline pre-clean), the null-dispatch
    shorthands (equal_null / nvl2 / ifnull / nullifzero /
    zeroifnull) and typeof. Constant-folded literal grid; no scan."""
    return spark.sql(
        """
        SELECT
          try_to_date('2024-02-30') IS NULL AS bad_date_is_null,
          try_to_date('2024-02-29') AS ok_date,
          CAST(try_to_number('12,345', '99,999') AS BIGINT)
              AS ok_num,
          CAST(try_to_number('x', '999') AS BIGINT) AS bad_num,
          CAST(try_mod(10, 0) AS BIGINT) AS mod_zero,
          CAST(try_mod(10, 3) AS BIGINT) AS mod_three,
          try_parse_url('https://spark.apache.org/path?q=1', 'HOST')
              AS url_host,
          try_parse_url('https://spark.apache.org/path?q=1', 'PATH')
              AS url_path,
          try_parse_url('not a url', 'HOST') AS bad_url_host,
          try_url_decode('a%20b%21') AS url_decoded,
          try_url_decode('%zz') AS bad_url_decoded,
          lower(hex(try_to_binary('deadbeef', 'hex')))
              AS hex_roundtrip,
          CAST(try_to_binary('xyz!', 'hex') AS STRING) AS bad_hex,
          is_valid_utf8(x'C3A9') AS utf8_valid,
          is_valid_utf8(x'FF') AS utf8_invalid,
          make_valid_utf8(x'41FF42') AS utf8_repaired,
          equal_null(NULL, NULL) AS eq_null_both,
          equal_null(1, NULL) AS eq_null_one,
          nvl2(1, 'a', 'b') AS nvl2_notnull,
          nvl2(NULL, 'a', 'b') AS nvl2_null,
          CAST(ifnull(NULL, 7) AS BIGINT) AS ifnull_v,
          CAST(nullifzero(0) AS BIGINT) AS nullifzero_v,
          CAST(zeroifnull(NULL) AS BIGINT) AS zeroifnull_v,
          typeof(array(1)) AS typeof_arr
        """
    )


@query(
    "bitwise_funcs",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS and255,
           o_orderkey | 4096 AS or4096,
           xor(o_orderkey, 255) AS xor255,
           (o_orderkey & 15) << 2 AS shl2,
           o_orderkey >> 4 AS shr4,
           CAST(bit_count(o_orderkey) AS INTEGER) AS nbits
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
)
def bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator family: AND/OR/XOR/shifts/popcount."""
    o = Catalog(spark, sf_dir).orders
    k = F.col("o_orderkey")
    return (
        o.where(k < 500)
        .select(
            "o_orderkey",
            k.bitwiseAND(F.lit(255)).alias("and255"),
            k.bitwiseOR(F.lit(4096)).alias("or4096"),
            k.bitwiseXOR(F.lit(255)).alias("xor255"),
            F.shiftleft(k.bitwiseAND(F.lit(15)), 2).cast("long").alias("shl2"),
            F.shiftright(k, 4).cast("long").alias("shr4"),
            F.bit_count(k).alias("nbits"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "bitwise_agg_funcs",
    oracle="""
    SELECT l_returnflag,
           bit_and(CAST(l_quantity AS BIGINT)) AS q_and,
           bit_or(CAST(l_quantity AS BIGINT)) AS q_or,
           bit_xor(CAST(l_quantity AS BIGINT)) AS q_xor,
           CAST(sum((CAST(l_quantity AS BIGINT) >> 2) & 1) AS BIGINT)
               AS bit2_pop
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def bitwise_agg_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AGGREGATES (bit_and/bit_or/bit_xor — the Hive bitmap
    building blocks) plus ``getbit`` as the per-row probe. All
    integer-exact; map-side partial aggregation applies (bitwise ops
    are associative+commutative), so the plan is one shuffle of
    3 longs per group."""
    li = Catalog(spark, sf_dir).lineitem
    q = F.col("l_quantity").cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.bit_and(q).alias("q_and"),
            F.bit_or(q).alias("q_or"),
            F.bit_xor(q).alias("q_xor"),
            F.sum(F.expr("getbit(cast(l_quantity as bigint), 2)"))
            .cast("long")
            .alias("bit2_pop"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "math_funcs_wave2",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(cot(l_quantity / 10.0), 6) AS cot_v,
           CAST(factorial(CAST(CAST(l_quantity AS BIGINT) % 10
                               AS INT)) AS BIGINT) AS fact_v,
           round(cbrt(l_quantity), 6) AS cbrt_v,
           round(exp(l_discount) - 1.0, 6) AS expm1_v,
           round(ln(1.0 + l_discount), 6) AS log1p_v,
           round_even(l_quantity * 1.5, 0) AS rint_v,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_v,
           isnan(CASE WHEN l_orderkey % 7 = 0 THEN 'NaN'::DOUBLE
                      ELSE l_discount END) AS is_nan,
           round(CASE WHEN isnan(CASE WHEN l_orderkey % 7 = 0
                                      THEN 'NaN'::DOUBLE
                                      ELSE l_discount END)
                      THEN -1.0 ELSE l_discount END, 6) AS nanvl_v
    FROM lineitem WHERE l_orderkey < 300
    ORDER BY l_orderkey, l_linenumber
    """,
)
def math_funcs_wave2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math builtins wave 2: cot, factorial, cbrt, expm1/log1p (the
    numerically-stable small-x forms; DuckDB mirrors them with
    exp()-1 / ln(1+x) — for x in the discount range the forms agree
    far inside the 6dp rounding), rint (banker's rounding — quantity
    × 1.5 lands exactly on .5 for odd quantities, so the
    round-half-even semantics is genuinely exercised against DuckDB's
    round_even), signum, and isnan/nanvl over an injected NaN lane.
    hypot is deliberately absent: Java's overflow-safe algorithm and
    a sqrt(x²+y²) mirror can disagree in the last ulp, which is
    exactly the cross-engine noise class the rounding audit bans.
    All per-row scalar math — no accumulation, partition-independent
    by construction."""
    li = Catalog(spark, sf_dir).lineitem
    q = F.col("l_quantity")
    d = F.col("l_discount")
    nan_lane = F.when(
        F.col("l_orderkey") % 7 == 0, F.lit(float("nan"))
    ).otherwise(d)
    return (
        li.where(F.col("l_orderkey") < 300)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.cot(q / 10.0), 6).alias("cot_v"),
            F.factorial((q.cast("long") % 10).cast("int"))
            .cast("long")
            .alias("fact_v"),
            F.round(F.cbrt(q), 6).alias("cbrt_v"),
            F.round(F.expm1(d), 6).alias("expm1_v"),
            F.round(F.log1p(d), 6).alias("log1p_v"),
            F.rint(q * 1.5).alias("rint_v"),
            F.signum(d - 0.05).alias("sign_v"),
            F.isnan(nan_lane).alias("is_nan"),
            F.round(F.nanvl(nan_lane, F.lit(-1.0)), 6).alias(
                "nanvl_v"
            ),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


_HYP_ORACLE = """
WITH g AS (
  SELECT DISTINCT CAST(l_quantity AS DOUBLE) / 10.0 AS x
  FROM lineitem)
SELECT round(x, 1) AS x,
       round((exp(x) - exp(-x)) / 2, 6) AS sinh_v,
       round((exp(x) + exp(-x)) / 2, 6) AS cosh_v,
       round((exp(x) - exp(-x)) / (exp(x) + exp(-x)), 6) AS tanh_v,
       round(ln(x + sqrt(x * x + 1)), 6) AS asinh_v,
       round(ln(x + 1 + sqrt((x + 1) * (x + 1) - 1)), 6) AS acosh_v,
       round(0.5 * ln((1 + 1 / (x + 1)) / (1 - 1 / (x + 1))), 6)
           AS atanh_v,
       round(atan(x), 6) AS atan_v,
       round(atan2(x, 2.0), 6) AS atan2_v,
       round(1 / sin(x), 6) AS csc_v,
       round(1 / cos(x), 6) AS sec_v,
       round(((exp(x) + exp(-x)) / 2) * ((exp(x) + exp(-x)) / 2)
             - ((exp(x) - exp(-x)) / 2) * ((exp(x) - exp(-x)) / 2),
             6) AS identity_v
FROM g ORDER BY x
"""


@query("hyperbolic_trig_matrix", oracle=_HYP_ORACLE)
def hyperbolic_trig_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hyperbolic and reciprocal trig builtins over the fixed
    quantity grid x ∈ {0.1 … 5.0}: sinh/cosh/tanh, the inverse
    hyperbolics (asinh on x, acosh on x+1 ≥ 1.1, atanh on
    1/(x+1) ≤ 0.91 — each probed safely inside its domain), atan,
    two-argument atan2, and csc/sec. DuckDB has none of the
    hyperbolics, so the oracle replays the exp/log identities —
    agreement to 6 dp on this bounded domain is a genuine libm
    cross-check (the same discipline math_funcs_wave2 set with cot).
    The cosh²−sinh² column must round to exactly 1.0 on every row —
    the fundamental identity carried in-band. One distinct over the
    bounded quantity domain; everything else constant-folds
    per-row."""
    li = Catalog(spark, sf_dir).lineitem
    g = li.select(
        (F.col("l_quantity").cast("double") / 10.0).alias("x")
    ).distinct()
    return g.select(
        F.round("x", 1).alias("x"),
        F.round(F.expr("sinh(x)"), 6).alias("sinh_v"),
        F.round(F.expr("cosh(x)"), 6).alias("cosh_v"),
        F.round(F.expr("tanh(x)"), 6).alias("tanh_v"),
        F.round(F.expr("asinh(x)"), 6).alias("asinh_v"),
        F.round(F.expr("acosh(x + 1)"), 6).alias("acosh_v"),
        F.round(F.expr("atanh(1 / (x + 1))"), 6).alias("atanh_v"),
        F.round(F.expr("atan(x)"), 6).alias("atan_v"),
        F.round(F.expr("atan2(x, 2.0d)"), 6).alias("atan2_v"),
        F.round(F.expr("csc(x)"), 6).alias("csc_v"),
        F.round(F.expr("sec(x)"), 6).alias("sec_v"),
        F.round(
            F.expr("cosh(x) * cosh(x) - sinh(x) * sinh(x)"), 6
        ).alias("identity_v"),
    ).orderBy("x")


#: width_bucket bounds + bucket count, shared by impl and oracle.
_WB_LO, _WB_HI, _WB_N = "900.0", "105000.0", "16"


@query(
    "width_bucket_binning",
    oracle=f"""
    SELECT CAST(CASE
             WHEN l_extendedprice < {_WB_LO} THEN 0
             WHEN l_extendedprice >= {_WB_HI} THEN {_WB_N} + 1
             ELSE floor((l_extendedprice - {_WB_LO})
                        / (({_WB_HI} - {_WB_LO}) / {_WB_N})) + 1
           END AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(l_extendedprice), 2) AS lo_price,
           round(max(l_extendedprice), 2) AS hi_price
    FROM lineitem GROUP BY bucket ORDER BY bucket
    """,
)
def width_bucket_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """width_bucket equi-width histogram assignment (the SQL-standard
    binning function; Hive ships it since 3.0). DuckDB has no
    width_bucket, so the oracle mirrors Spark's documented formula —
    bucket 0 below the range, n+1 at/above the high bound, else
    ⌊(v-lo)/((hi-lo)/n)⌋+1 — with the identical double expression,
    making parity a conformance check of the builtin itself.
    Downstream is one integer-keyed aggregation; min/max are exact
    (grid values, no accumulation)."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.select(
            F.expr(
                f"width_bucket(l_extendedprice, {_WB_LO}, {_WB_HI},"
                f" {_WB_N})"
            ).alias("bucket"),
            "l_extendedprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo_price"),
            F.round(F.max("l_extendedprice"), 2).alias("hi_price"),
        )
        .orderBy("bucket")
    )


@query(
    "conditional_agg_family",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(o_custkey) AS BIGINT) AS try_sum_key,
           round(avg(o_custkey), 4) AS try_avg_key,
           any_value(o_orderstatus) AS any_status,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS some_jumbo,
           CAST(count(*) FILTER (WHERE o_totalprice > 200000)
                AS BIGINT) AS n_large
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def conditional_agg_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_sum / try_avg (NULL-on-overflow aggregation), any_value
    (over a value provably constant per group — the only spot where
    its nondeterminism contract is still testable), every/some
    (bool_and / bool_or), and count_if. try_sum/try_avg run over the
    integer key column on purpose: integer partial sums stay exact in
    a double up to 2^53, so the rounded average is accumulation-order
    independent (a cent-grid average would not be — the dsir
    class)."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.try_sum("o_custkey").cast("long").alias("try_sum_key"),
            F.round(F.try_avg("o_custkey"), 4).alias("try_avg_key"),
            F.any_value("o_orderstatus").alias("any_status"),
            F.every(F.col("o_totalprice") > 0).alias("all_positive"),
            F.some(F.col("o_totalprice") > 400000).alias("some_jumbo"),
            F.count_if(F.col("o_totalprice") > 200000)
            .cast("long")
            .alias("n_large"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "minmax_by",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
             row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
      FROM orders)
    SELECT o_orderpriority,
           max(CASE WHEN rmax = 1 THEN o_orderkey END) AS biggest_order,
           max(CASE WHEN rmin = 1 THEN o_orderkey END) AS smallest_order
    FROM ranked GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (Hive 4 / Spark 3.3+): order id with the extreme
    total price per priority; composite (price, key) ordering struct
    breaks price ties deterministically (oracle emulates with window
    ranks — DuckDB's arg_max can't take a composite key)."""
    o = Catalog(spark, sf_dir).orders
    key = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", key).alias("biggest_order"),
            F.min_by("o_orderkey", key).alias("smallest_order"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "stats_agg",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (stddev/variance/corr/covar) —
    single-pass, mergeable moments (the 100 TB-safe formulation)."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "covar"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "median_boolean_aggs",
    oracle="""
    SELECT l_returnflag,
           round(median(l_extendedprice), 4) AS med_price,
           bool_and(l_quantity > 0) AS all_positive,
           bool_or(l_discount > 0.09) AS any_deep_discount,
           CAST(count_if(l_tax = 0) AS BIGINT) AS n_taxfree
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def median_boolean_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """median() (the 50th percentile as a first-class aggregate, exact
    — interpolating between middle values like DuckDB) plus the
    boolean aggregate family bool_and/bool_or — the assertion
    aggregates data-quality SQL leans on."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_extendedprice"), 4).alias("med_price"),
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
            F.bool_or(F.col("l_discount") > 0.09).alias(
                "any_deep_discount"
            ),
            F.count_if(F.col("l_tax") == 0).alias("n_taxfree"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "regr_aggregates",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4)
               AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)
               AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def regr_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard linear-regression aggregate family
    (slope/intercept/R²/count of y-on-x) — one-pass sufficient-
    statistics aggregation, so it parallelizes like any sum: the
    at-scale way to fit a trend without an ML library round trip.
    Price regressed on quantity recovers the per-unit price trend."""
    li = Catalog(spark, sf_dir).lineitem
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope(y, x), 6).alias("slope"),
            F.round(F.regr_intercept(y, x), 4).alias("intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
            F.regr_count(y, x).cast("long").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "pop_variance_family",
    oracle="""
    SELECT l_returnflag,
           round(var_pop(l_quantity), 6) AS var_p,
           round(stddev_pop(l_quantity), 6) AS std_p,
           round(covar_pop(l_quantity, l_linenumber), 6) AS cov_p,
           round(var_samp(l_quantity), 6) AS var_s,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def pop_variance_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-variance aggregate family (var_pop / stddev_pop /
    covar_pop, with var_samp alongside for the n-1 contrast). Inputs
    are deliberately the SMALL-INTEGER columns: quantities (1..50)
    and line numbers keep every partial sum exact in a double, so the
    merged central-moment accumulators agree across partitionings to
    far below the 6dp rounding (fuzz-checked by the rounding audit);
    a money-column variance would be the order-sensitive dsir
    class."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.var_pop("l_quantity"), 6).alias("var_p"),
            F.round(F.stddev_pop("l_quantity"), 6).alias("std_p"),
            F.round(
                F.covar_pop("l_quantity", "l_linenumber"), 6
            ).alias("cov_p"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("l_returnflag")
    )


#: sample modulus: ≈3k lineitem rows at sf0.1 — dollars ≤ 1e5 squared
#: times 3e3 rows ≈ 3e13 < 2^53, so the regr_ sums stay exact-integer
#: doubles at every test scale (order-independent accumulation).
REGR_MOD = 199

_REGR_ORACLE = f"""
WITH s AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(CAST(round(l_extendedprice * 100) AS BIGINT) // 100
              AS DOUBLE) AS y
  FROM lineitem WHERE l_orderkey % {REGR_MOD} = 0)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(regr_avgx(y, x), 4) AS avgx,
       round(regr_avgy(y, x), 4) AS avgy,
       round(regr_sxx(y, x), 2) AS sxx,
       round(regr_syy(y, x), 2) AS syy,
       round(regr_sxy(y, x), 2) AS sxy
FROM s
"""


@query("regr_full_family", oracle=_REGR_ORACLE)
def regr_full_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining SQL:2003 linear-regression aggregates —
    regr_avgx/avgy (means over non-null pairs) and the centered
    second moments regr_sxx/syy/sxy the slope and r² derive from —
    on quantity (x) vs whole-dollar price (y). Float-order safety by
    construction: both variables are integer-valued and the
    mod-{REGR_MOD} sample bounds every sum of squares below 2^53,
    so the double sums are exact integers regardless of partition
    order (the defect class the rounding audit fuzzes). DuckDB ships
    the same aggregates natively — the oracle calls them verbatim."""
    li = Catalog(spark, sf_dir).lineitem
    s = li.where(F.col("l_orderkey") % REGR_MOD == 0).select(
        F.col("l_quantity").cast("double").alias("x"),
        F.expr(
            "cast(cast(round(l_extendedprice * 100) as bigint) div 100"
            " as double)"
        ).alias("y"),
    )
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.expr("regr_avgx(y, x)"), 4).alias("avgx"),
        F.round(F.expr("regr_avgy(y, x)"), 4).alias("avgy"),
        F.round(F.expr("regr_sxx(y, x)"), 2).alias("sxx"),
        F.round(F.expr("regr_syy(y, x)"), 2).alias("syy"),
        F.round(F.expr("regr_sxy(y, x)"), 2).alias("sxy"),
    )


@query(
    "percentile_within_group",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_cont,
           round(quantile_disc(o_totalprice, 0.5), 2) AS median_disc,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_cont
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def percentile_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ordered-set aggregates: PERCENTILE_CONT (linear
    interpolation) and PERCENTILE_DISC (first value at cume_dist ≥ p)
    WITHIN GROUP — the EXACT percentiles, vs percentile_approx's
    sketch. Exact percentiles need the group sorted, so at 100 TB this
    is per-GROUP cost (fine for bounded groups like priority classes);
    unbounded groups take the approx path. DuckDB's
    quantile_cont/quantile_disc share both definitions exactly."""
    Catalog(spark, sf_dir).orders.createOrReplaceTempView(
        "pwg_orders_src"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               round(percentile_cont(0.5) WITHIN GROUP
                     (ORDER BY o_totalprice), 4) AS median_cont,
               round(percentile_disc(0.5) WITHIN GROUP
                     (ORDER BY o_totalprice), 2) AS median_disc,
               round(percentile_cont(0.9) WITHIN GROUP
                     (ORDER BY o_totalprice), 4) AS p90_cont
        FROM pwg_orders_src
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


#: quantile probe points shared with the oracle.
_PCT_POINTS = "0.1, 0.25, 0.5, 0.75, 0.9"


@query(
    "percentile_array_variants",
    oracle=f"""
    WITH q AS (
      SELECT l_returnflag,
             unnest(quantile_cont(l_quantity,
                    [{_PCT_POINTS}])) AS qv,
             unnest(CAST([{_PCT_POINTS}] AS DOUBLE[])) AS p
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, p, round(qv, 6) AS quantile_value
    FROM q ORDER BY l_returnflag, p
    """,
)
def percentile_array_variants(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact multi-quantile in ONE aggregation: percentile(col,
    array(p...)) returns the whole quantile vector per group in a
    single pass (vs one percentile call per point — five scans).
    Flattened to (group, p, value) rows with posexplode; DuckDB's
    quantile_cont(list) unnests the same way. Both engines use
    linear interpolation on the sorted values, so 6dp parity holds
    exactly."""
    li = Catalog(spark, sf_dir).lineitem
    pts = [float(x) for x in _PCT_POINTS.split(", ")]
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_quantity", F.array(*[F.lit(p) for p in pts])
            ).alias("qs")
        )
        .select(
            "l_returnflag", F.posexplode("qs").alias("i", "qv")
        )
        .select(
            "l_returnflag",
            F.element_at(
                F.array(*[F.lit(p) for p in pts]), F.col("i") + 1
            ).alias("p"),
            F.round("qv", 6).alias("quantile_value"),
        )
        .orderBy("l_returnflag", "p")
    )


@query(
    "percentile_approx",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS exact_p90,
           TRUE AS approx_within_2pct
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def percentile_approx_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """percentile_approx (KLL-style mergeable quantile sketch) — the
    100 TB quantile: one pass, fixed-size state, map-side mergeable,
    vs exact percentile's full sort/expand. accuracy=10000 bounds rank
    error to n/10000 per group, far inside the 2% value tolerance
    asserted here (the planted price distribution has no heavy atoms).
    """
    li = Catalog(spark, sf_dir).lineitem

    def pa(p: float) -> F.Column:
        return F.expr(
            f"percentile_approx(l_extendedprice, {p}, 10000)"
        )

    def pe(p: float) -> F.Column:
        return F.expr(f"percentile(l_extendedprice, {p})")

    within = (
        (F.abs(F.col("_a50") - F.col("_e50")) <= 0.02 * F.col("_e50"))
        & (F.abs(F.col("_a90") - F.col("_e90")) <= 0.02 * F.col("_e90"))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            pe(0.5).alias("_e50"),
            pe(0.9).alias("_e90"),
            pa(0.5).alias("_a50"),
            pa(0.9).alias("_a90"),
        )
        .select(
            "l_returnflag",
            F.round("_e50", 4).alias("exact_p50"),
            F.round("_e90", 4).alias("exact_p90"),
            within.alias("approx_within_2pct"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "null_handling",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           CASE WHEN c_acctbal IS NULL THEN -1.0
                ELSE round(greatest(c_acctbal, 0.0), 2) END AS bal_floor,
           round(least(c_acctbal, 1000.0), 2) AS bal_cap,
           (c_acctbal IS NOT NULL AND c_acctbal > 0) AS is_positive
    FROM customer ORDER BY c_custkey LIMIT 200
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-conditional family: nullif/coalesce/greatest/least/IS NULL
    (Hive nvl idioms)."""
    c = Catalog(spark, sf_dir).customer
    return (
        c.select(
            "c_custkey",
            F.coalesce(
                F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")
            ).alias("seg_or_other"),
            F.when(F.col("c_acctbal").isNull(), -1.0)
            .otherwise(F.round(F.greatest("c_acctbal", F.lit(0.0)), 2))
            .alias("bal_floor"),
            F.round(F.least("c_acctbal", F.lit(1000.0)), 2).alias("bal_cap"),
            (F.col("c_acctbal").isNotNull() & (F.col("c_acctbal") > 0)).alias(
                "is_positive"
            ),
        )
        .orderBy("c_custkey")
        .limit(200)
    )


#: expected contract outcomes, shared with the literal oracle.
_NONDET_CONTRACTS = (
    ("mid_distinct_and_increasing", True),
    ("partition_ids_in_range", True),
    ("rand_in_unit_interval", True),
    ("scanned_from_orders_parquet", True),
    ("uuids_all_distinct", True),
    ("uuids_rfc4122_format", True),
)


def _nondet_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT '{n}' AS contract, {str(v).upper()} AS holds"
        for n, v in _NONDET_CONTRACTS
    )
    return f"SELECT contract, holds FROM ({rows}) ORDER BY contract"


@query("nondeterministic_funcs_contract", oracle=_nondet_oracle())
def nondeterministic_funcs_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The nondeterministic-function tool-belt — uuid(), rand(),
    monotonically_increasing_id(), spark_partition_id(),
    input_file_name() — produces values no cross-engine oracle can
    hash, so this query verifies the documented CONTRACTS instead
    and emits one pinned boolean per contract: ids distinct AND
    increasing within their generation order, partition ids within
    [0, numPartitions), rand() in [0, 1), the scan's
    input_file_name ending in orders.parquet, uuids distinct and
    RFC-4122-shaped. A broken contract flips a literal and fails the
    value-hash."""
    # input_file_name() is only defined in the scan's own stage — a
    # limit() above the scan would shuffle and blank it, so project
    # first, limit after
    probe = (
        Catalog(spark, sf_dir)
        .orders.select(
            F.monotonically_increasing_id().alias("mid"),
            F.spark_partition_id().alias("pid"),
            F.rand(seed=7).alias("r"),
            F.input_file_name().alias("fn"),
            F.expr("uuid()").alias("u"),
        )
        .limit(2000)
    )
    agg = probe.agg(
        (
            (F.count_distinct("mid") == F.count(F.lit(1)))
            & (F.max("mid") >= F.min("mid"))
        ).alias("mid_distinct_and_increasing"),
        (
            (F.min("pid") >= 0)
            & (F.max("pid") < spark.sparkContext.defaultParallelism + 64)
        ).alias("partition_ids_in_range"),
        ((F.min("r") >= 0.0) & (F.max("r") < 1.0)).alias(
            "rand_in_unit_interval"
        ),
        F.every(F.col("fn").contains("orders.parquet")).alias(
            "scanned_from_orders_parquet"
        ),
        (F.count_distinct("u") == F.count(F.lit(1))).alias(
            "uuids_all_distinct"
        ),
        F.every(
            F.col("u").rlike(
                "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab]"
                "[0-9a-f]{3}-[0-9a-f]{12}$"
            )
        ).alias("uuids_rfc4122_format"),
    ).collect()[0]
    return (
        spark.createDataFrame(
            [
                Row(contract=k, holds=bool(agg[k]))
                for k, _ in _NONDET_CONTRACTS
            ]
        )
        .orderBy("contract")
    )


#: little-endian WKB for POINT(1 2), POINT(-3.5 4.25), POINT(0 0)
WKB_POINTS = (
    "0101000000000000000000F03F0000000000000040",
    "01010000000000000000000CC00000000000001140",
    "010100000000000000000000000000000000000000",
)

_ST_ORACLE = (
    "SELECT "
    + ", ".join(
        f"'{w.lower()}' AS geom_rt_{i}, '{w.lower()}' AS geog_rt_{i}"
        for i, w in enumerate(WKB_POINTS)
    )
    + ", CAST(0 AS BIGINT) AS default_srid,"
    " CAST(4326 AS BIGINT) AS set_srid"
)


@query("st_wkb_surface", oracle=_ST_ORACLE)
def st_wkb_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4.1 geospatial type boundary: three WKB point
    literals (positive, negative/fractional, origin) parsed to
    GEOMETRY and GEOGRAPHY and serialized back with st_asbinary —
    the round trip must be byte-identical (hex-compared), proving
    the codec is lossless at the storage boundary; st_srid reads the
    default (0) and st_setsrid stamps EPSG:4326. The geospatial
    feature flag is runtime-set by the query itself (the driver's
    plain session has it off). Spatial predicates/measures are not
    in this Spark build — the type codec boundary IS the public
    surface, covered exactly."""
    spark.conf.set("spark.sql.geospatial.enabled", "true")
    cols = []
    for i, w in enumerate(WKB_POINTS):
        cols.append(
            F.expr(f"lower(hex(st_asbinary(st_geomfromwkb(x'{w}'))))")
            .alias(f"geom_rt_{i}")
        )
        cols.append(
            F.expr(f"lower(hex(st_asbinary(st_geogfromwkb(x'{w}'))))")
            .alias(f"geog_rt_{i}")
        )
    w0 = WKB_POINTS[0]
    cols.append(
        F.expr(f"st_srid(st_geomfromwkb(x'{w0}'))")
        .cast("long")
        .alias("default_srid")
    )
    cols.append(
        F.expr(f"st_srid(st_setsrid(st_geomfromwkb(x'{w0}'), 4326))")
        .cast("long")
        .alias("set_srid")
    )
    return spark.range(1).select(*cols)


# --------------------------------------------------------------------
# Hive UNIONTYPE emulation
# --------------------------------------------------------------------

@query(
    "hive_uniontype_emulation",
    oracle=f"""
    WITH u AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS tag,
             CASE WHEN o_orderkey % 2 = 0 THEN o_custkey END AS f0,
             CASE WHEN o_orderkey % 2 = 1
                  THEN o_orderpriority END AS f1,
             {ORDER_CENTS} AS cents
      FROM orders)
    SELECT tag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN f0 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f0_active,
           CAST(sum(CASE WHEN f1 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f1_active,
           coalesce(CAST(sum(f0) AS BIGINT), 0) AS f0_checksum,
           coalesce(min(f1), '') AS f1_min,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM u GROUP BY tag ORDER BY tag
    """,
)
def hive_uniontype_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive's UNIONTYPE<bigint, string> (create_union / tag dispatch)
    emulated the way Spark represents it: a tagged struct with
    exactly one active branch per row (tag picks the field, the
    other stays NULL — the invariant n_fK_active == n per tag is the
    contract, asserted here as output columns). Branch dispatch is a
    codegen CASE; no per-row interpretation, so the emulation costs
    the same as the columns it wraps at any scale."""
    o = Catalog(spark, sf_dir).orders
    u = o.select(
        F.struct(
            F.when(F.col("o_orderkey") % 2 == 0, 0)
            .otherwise(1)
            .alias("tag"),
            F.when(
                F.col("o_orderkey") % 2 == 0, F.col("o_custkey")
            ).alias("f0"),
            F.when(
                F.col("o_orderkey") % 2 == 1, F.col("o_orderpriority")
            ).alias("f1"),
        ).alias("u"),
        F.expr(ORDER_CENTS).alias("cents"),
    )
    return (
        u.groupBy(F.col("u.tag").alias("tag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("u.f0").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_f0_active"),
            F.sum(
                F.when(F.col("u.f1").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_f1_active"),
            F.coalesce(F.sum("u.f0").cast("long"), F.lit(0)).alias(
                "f0_checksum"
            ),
            F.coalesce(F.min("u.f1"), F.lit("")).alias("f1_min"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("tag")
    )

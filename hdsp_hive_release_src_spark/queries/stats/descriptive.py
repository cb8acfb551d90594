"""Statistics domain: descriptive statistics, profiles and sampling.

Moments, robust location and scale, entropy, inequality indices,
outlier fences, 2-D histograms, column profiles and deterministic
sampling designs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import ORDER_CENTS, Catalog
from hdsp_hive_release_src_spark.operators.materialize import persist_fact_rows
from hdsp_hive_release_src_spark.operators.ranking import with_global_rank
from hdsp_hive_release_src_spark.registry import query


@query(
    "skewness_kurtosis_moments",
    oracle="""
    WITH mu AS (
      SELECT l_returnflag AS grp, avg(l_extendedprice) AS m
      FROM lineitem GROUP BY l_returnflag),
    moments AS (
      SELECT grp,
             avg(pow(l_extendedprice - m, 2)) AS m2,
             avg(pow(l_extendedprice - m, 3)) AS m3,
             avg(pow(l_extendedprice - m, 4)) AS m4
      FROM lineitem JOIN mu ON l_returnflag = grp GROUP BY grp)
    SELECT grp,
           round(m3 / pow(m2, 1.5), 6) AS skew,
           round(m4 / pow(m2, 2) - 3, 6) AS kurt
    FROM moments ORDER BY grp
    """,
)
def skewness_kurtosis_moments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """skewness() / kurtosis() — the shape moments a distribution
    audit reads (price skew flags long-tail segments). Spark's
    builtins are POPULATION moments while DuckDB's are
    sample-corrected, so the oracle recomputes Spark's definition from
    explicit central moments — itself a worthwhile parity pin: the
    correction-factor difference silently shifts every ported report."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy(F.col("l_returnflag").alias("grp"))
        .agg(
            F.round(F.skewness("l_extendedprice"), 6).alias("skew"),
            F.round(F.kurtosis("l_extendedprice"), 6).alias("kurt"),
        )
        .orderBy("grp")
    )


@query(
    "weighted_median",
    oracle="""
    WITH w AS (
      SELECT o_orderpriority AS grp, o_totalprice AS v,
             CAST(o_orderkey % 5 + 1 AS BIGINT) AS wt,
             o_orderkey
      FROM orders WHERE o_orderkey < 5000),
    cum AS (
      SELECT grp, v, o_orderkey,
             sum(wt) OVER (PARTITION BY grp ORDER BY v, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS cw,
             sum(wt) OVER (PARTITION BY grp) AS tw
      FROM w)
    SELECT grp, round(min(v), 2) AS weighted_median
    FROM cum WHERE cw * 2 >= tw GROUP BY grp ORDER BY grp
    """,
)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (no builtin anywhere): the first value whose
    cumulative weight reaches half the total, per group — the
    survey-statistics / cost-model primitive. One value-ordered window
    cumsum per partition; weights derive deterministically from the
    key so the oracle replays them."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 5000)
    w = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderkey") % 5 + 1).cast("long").alias("wt"),
        "o_orderkey",
    )
    wp = Window.partitionBy("grp")
    wo = wp.orderBy("v", "o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = w.select(
        "grp",
        "v",
        F.sum("wt").over(wo).alias("cw"),
        F.sum("wt").over(wp).alias("tw"),
    )
    return (
        cum.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("grp")
        .agg(F.round(F.min("v"), 2).alias("weighted_median"))
        .orderBy("grp")
    )


@query(
    "mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, c_nationkey, count(*) AS n
      FROM customer GROUP BY c_mktsegment, c_nationkey),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                 ORDER BY n DESC, c_nationkey) AS rn
      FROM counts)
    SELECT c_mktsegment,
           CAST(c_nationkey AS BIGINT) AS mode_nation,
           CAST(n AS BIGINT) AS mode_count
    FROM ranked WHERE rn = 1 ORDER BY c_mktsegment
    """,
)
def mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: the builtin mode() returns an ARBITRARY
    value on tied frequencies (a cross-engine parity trap), so the
    engine provides the tie-broken form — count per value, then
    max_by on (count, -value): highest frequency, lowest value wins
    ties, reproducibly on every engine."""
    c = Catalog(spark, sf_dir).customer
    counts = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        counts.groupBy("c_mktsegment")
        .agg(
            F.max_by(
                "c_nationkey",
                F.struct(F.col("n"), (-F.col("c_nationkey")).alias("k")),
            )
            .cast("long")
            .alias("mode_nation"),
            F.max("n").cast("long").alias("mode_count"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "distribution_entropy",
    oracle="""
    WITH p AS (
      SELECT lang,
             count(*) * 1.0 / sum(count(*)) OVER () AS prob
      FROM documents GROUP BY lang)
    SELECT round(-sum(prob * ln(prob)) / ln(2), 6) AS entropy_bits,
           round(1 - sum(prob * prob), 6) AS gini,
           CAST(count(*) AS BIGINT) AS n_classes
    FROM p
    """,
)
def distribution_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) + Gini impurity of the corpus language
    distribution — the one-number diversity audits a training-mixture
    report tracks round over round (entropy collapse = a source
    drowned the mix). Class probabilities come from one aggregation;
    the entropy sum runs over the class-count result (tiny)."""
    d = Catalog(spark, sf_dir).documents
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    p = counts.select(
        (F.col("n") / F.sum("n").over(w)).alias("prob")
    )
    return p.agg(
        F.round(
            -F.sum(F.col("prob") * F.log(F.col("prob"))) / F.log(F.lit(2.0)),
            6,
        ).alias("entropy_bits"),
        F.round(1 - F.sum(F.col("prob") * F.col("prob")), 6).alias("gini"),
        F.count(F.lit(1)).alias("n_classes"),
    )


@query(
    "benford_distribution",
    oracle="""
    WITH digits AS (
      SELECT CAST(floor(o_totalprice
             / power(10, floor(log10(o_totalprice)))) AS INTEGER) AS d
      FROM orders WHERE o_totalprice > 0),
    agg AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT sum(n) AS total FROM agg)
    SELECT d AS digit, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / total, 6) AS observed_freq,
           round(log10(1 + 1.0 / d), 6) AS benford_freq,
           round(abs(n * 1.0 / total - log10(1 + 1.0 / d)), 6)
               AS abs_dev
    FROM agg CROSS JOIN tot ORDER BY digit
    """,
)
def benford_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit: the leading-significant-digit distribution
    of order totals vs the log10(1+1/d) expectation — the classic
    fabricated-numbers detector (synthetic uniform-ish TPC-H prices
    deviate from Benford, and the per-digit abs_dev column SHOWS it;
    a detector that can't fire proves nothing). Map-side digit
    extraction via floor(x/10^floor(log10 x)) — no string formatting,
    so both engines derive the digit from the same float arithmetic —
    then a 9-row aggregation."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(10, F.floor(F.log10("o_totalprice")))
    ).cast("int")
    # r13 subtree-sweep fix: the 9-row digit table fed both the total
    # and the output join, re-running the fact scan twice. Checkpoint
    # the 9 rows; the total reads them.
    agg = (
        o.select(digit.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    tot = agg.agg(F.sum("n").alias("total"))
    return (
        agg.join(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("total"), 6).alias(
                "observed_freq"
            ),
            F.round(F.log10(1 + 1.0 / F.col("d")), 6).alias(
                "benford_freq"
            ),
            F.round(
                F.abs(
                    F.col("n") / F.col("total")
                    - F.log10(1 + 1.0 / F.col("d"))
                ),
                6,
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@query(
    "mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(CAST(value AS DOUBLE)) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, abs(e.value - med.med) AS adev, med.med
      FROM events e JOIN med ON e.event_type = med.event_type),
    mad AS (
      SELECT event_type, median(CAST(adev AS DOUBLE)) AS mad
      FROM dev GROUP BY event_type)
    SELECT dev.event_type,
           round(max(dev.med), 4) AS median_value,
           round(max(mad.mad), 4) AS mad,
           CAST(sum(CASE WHEN dev.adev > 3 * 1.4826 * mad.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.event_type = mad.event_type
    GROUP BY dev.event_type ORDER BY dev.event_type
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection per event type —
    the ROBUST alternative to z-scores (zscore_outliers): one extreme
    value drags a mean/stddev fence toward itself, while medians
    don't move, so MAD fences survive exactly the contamination
    they're hunting. Two exact-median passes (per-group medians are
    bounded-group sorts), each group's median broadcast back; the
    3×1.4826 factor scales MAD to σ-equivalents under normality."""
    ev = Catalog(spark, sf_dir).events
    # r12 scan-count fix: the MAD pass and the final fence count each
    # re-ran the median pass + join from parquet (4 scans measured);
    # materializing the group medians and the deviation table caps the
    # query at its two documented median passes. The medians are
    # reduced (one row per event type) -> localCheckpoint; dev is
    # events-ROW-sized, so DISK_ONLY persist, never localCheckpoint —
    # fact-row data on non-reliable local storage dies with its
    # executor (operators/materialize.py).
    med = (
        ev.groupBy("event_type")
        .agg(F.median("value").alias("med"))
        .localCheckpoint()
    )
    dev = persist_fact_rows(
        ev.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "med",
            F.abs(F.col("value") - F.col("med")).alias("adev"),
        )
    )
    mad = dev.groupBy("event_type").agg(
        F.median("adev").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 4).alias("median_value"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                (F.col("adev") > 3 * 1.4826 * F.col("mad")).cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query(
    "quantile_normalize",
    oracle="""
    WITH r AS (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                 AS rnk,
             count(*) OVER () AS n
      FROM orders WHERE o_orderkey < 4000)
    SELECT o_orderkey, round((rnk - 0.5) / n, 6) AS qnorm
    FROM r ORDER BY o_orderkey
    """,
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization ((rank − 0.5)/n — the rankit
    transform ML preprocessing applies to heavy-tailed features):
    built on the DISTRIBUTED exact-rank operator
    (operators/ranking.py), so unlike the oracle's global
    row_number() window there is no single-partition sort anywhere in
    the plan — the same values at any scale. The ntile queries share
    this machinery; this is its continuous-valued use."""
    from hdsp_hive_release_src_spark.operators.ranking import (
        with_global_rank,
    )

    o = Catalog(spark, sf_dir).orders.where(
        F.col("o_orderkey") < 4000
    ).select("o_orderkey", "o_totalprice")
    ranked, total = with_global_rank(
        o, "o_totalprice", ["o_orderkey"], rank_col="__rank"
    )
    return (
        ranked.select(
            "o_orderkey",
            F.round((F.col("__rank") - 0.5) / total, 6).alias("qnorm"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT o_orderpriority AS grp,
             avg(o_totalprice) AS mu,
             stddev_samp(o_totalprice) AS sigma
      FROM orders GROUP BY o_orderpriority)
    SELECT grp,
           CAST(count_if(abs((o_totalprice - mu) / sigma) > 2.5)
                AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(max(abs((o_totalprice - mu) / sigma)), 4) AS max_z
    FROM orders JOIN stats ON o_orderpriority = grp
    GROUP BY grp ORDER BY grp
    """,
)
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection (|z| > 2.5) — the
    statistical DQ screen between the hard-rule dq_audit and a model:
    group moments aggregate once (tiny), broadcast back over the fact
    scan, flags count map-side. Two passes total, no window sort."""
    o = Catalog(spark, sf_dir).orders
    stats = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.avg("o_totalprice").alias("mu"),
        F.stddev_samp("o_totalprice").alias("sigma"),
    )
    z = F.abs((F.col("o_totalprice") - F.col("mu")) / F.col("sigma"))
    return (
        o.join(
            F.broadcast(stats),
            F.col("o_orderpriority") == F.col("grp"),
        )
        .groupBy("grp")
        .agg(
            F.count_if(z > 2.5).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.max(z), 4).alias("max_z"),
        )
        .orderBy("grp")
    )


@query(
    "trimmed_mean",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                 AS rnk,
             count(*) OVER () AS n
      FROM orders),
    mid AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM ranked
      WHERE rnk > n // 20 AND rnk <= n - n // 20)
    SELECT count(*) AS n_kept,
           CAST(sum(cents) AS BIGINT) AS cents_sum,
           round(sum(cents) / 100.0 / count(*), 4) AS trimmed_mean
    FROM mid
    """,
)
def trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order value — the robust average every
    revenue dashboard wants (outliers clipped by RANK, not by a
    fixed threshold). Built on the distributed exact-rank operator
    (operators/ranking.py): no single-partition global window, rank
    thresholds are INTEGER (n//20), and the mean is derived from an
    exact integer cents sum with one final division — so no float
    accumulation ever crosses engines (the audit's design rule).
    DuckDB computes the same trim with a window; at test scale
    that's fine, at 100 TB only the range-decomposed rank
    survives."""
    from hdsp_hive_release_src_spark.operators.ranking import (
        with_global_rank,
    )

    o = Catalog(spark, sf_dir).orders
    ranked, total = with_global_rank(
        o.select("o_orderkey", "o_totalprice"),
        "o_totalprice",
        ["o_orderkey"],
        rank_col="rnk",
    )
    cut = total // 20
    mid = ranked.where(
        (F.col("rnk") > cut) & (F.col("rnk") <= total - cut)
    ).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    return mid.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.round(F.sum("cents") / 100.0 / F.count(F.lit(1)), 4).alias(
            "trimmed_mean"
        ),
    )


# --------------------------------------------------------------------
# Gini concentration of customer spend
# --------------------------------------------------------------------

_GINI_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey, CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_custkey) AS rn
  FROM spend),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(cents) AS tot,
         sum(CAST(rn AS HUGEINT) * cents) AS s
  FROM ranked)
SELECT n AS n_customers,
       CAST(tot AS BIGINT) AS total_cents,
       (2.0 * CAST(s AS DOUBLE) - (n + 1.0) * CAST(tot AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)) AS gini
FROM agg
"""


@query("gini_concentration_index", oracle=_GINI_ORACLE)
def gini_concentration_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend via the rank formula
    G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) with x ascending. The rank is
    made total by (cents, custkey) — equal values commute inside
    Σ i·xᵢ, so the tiebreak cannot change the result, it only pins
    the plan. Scale shape: map-side per-customer agg first (the big
    shuffle), then the rank runs through operators/ranking.
    with_global_rank — range-partitioned exact global row_number, no
    single-partition window anywhere (the per-customer dimension grows
    with the fact table, so the bounded-input argument the daily-grain
    queries use does not apply here). Σ i·xᵢ runs
    DECIMAL(38,0)/HUGEINT; the quotient is the only float."""
    o = Catalog(spark, sf_dir).orders
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.expr(ORDER_CENTS)).alias("cents")
    )
    ranked, _n = with_global_rank(
        spend, "cents", ["o_custkey"], rank_col="rn"
    )
    ranked = ranked.select("cents", "rn")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(
            (F.col("rn").cast("decimal(38,0)") * F.col("cents"))
        ).alias("s"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.col("tot").cast("long").alias("total_cents"),
        F.expr(
            "(2.0 * CAST(s AS DOUBLE) - (n + 1.0) * CAST(tot AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))"
        ).alias("gini"),
    )


# --------------------------------------------------------------------
# Lorenz curve deciles
# --------------------------------------------------------------------

_LORENZ_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey, CAST(sum({ORDER_CENTS}) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_custkey) AS rn
  FROM spend),
n AS (SELECT CAST(count(*) AS BIGINT) AS nc,
             CAST(sum(cents) AS BIGINT) AS tot
      FROM ranked),
dec AS (
  SELECT CAST(((rn - 1) * 10) // nc AS BIGINT) AS decile,
         cents
  FROM ranked, n),
agg AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS decile_cents
  FROM dec GROUP BY decile)
SELECT decile, n_customers, decile_cents,
       CAST(sum(decile_cents) OVER (ORDER BY decile) * 1000
            // n.tot AS BIGINT) AS cum_share_permille
FROM agg, n ORDER BY decile
"""


@query("lorenz_curve_deciles", oracle=_LORENZ_ORACLE)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend by decile — the curve whose
    enclosed area gini_concentration_index summarizes: customers
    ranked ascending by spend (total order via the custkey tiebreak),
    cut into ten equal-count bins, cumulative revenue share in exact
    permille. Same scale shape as the Gini query: per-customer agg
    first, then the rank runs through operators/ranking.
    with_global_rank — range-partitioned exact global row_number, no
    single-partition window over the per-customer dimension (it grows
    with the fact table). The only remaining window orders the ten
    decile rows."""
    o = Catalog(spark, sf_dir).orders
    # r13 subtree-sweep fix: spend feeds the rank operator (which
    # probes it twice at build time) plus the totals and decile
    # branches — the per-customer aggregate re-executed from parquet
    # for each. One dimension-bounded checkpoint; the total also
    # reads it directly instead of the ranked output. r15: built via
    # checkpoint_reduced (not raw localCheckpoint) so the ranking
    # operator's verified classifier recognizes the leaf as a proven
    # reduced materialization and keeps the cheap checkpoint tier.
    from hdsp_hive_release_src_spark.operators.materialize import (
        checkpoint_reduced,
    )

    spend = checkpoint_reduced(
        o.groupBy("o_custkey")
        .agg(F.sum(F.expr(ORDER_CENTS)).cast("long").alias("cents"))
    )
    ranked, nc = with_global_rank(
        spend, "cents", ["o_custkey"], rank_col="rn"
    )
    n = spend.agg(F.sum("cents").cast("long").alias("tot"))
    dec = ranked.crossJoin(F.broadcast(n)).select(
        F.expr(f"CAST(((rn - 1) * 10) div {nc} AS BIGINT)").alias(
            "decile"
        ),
        "cents",
        "tot",
    )
    agg = dec.groupBy("decile", "tot").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("decile_cents"),
    )
    return agg.select(
        "decile",
        "n_customers",
        "decile_cents",
        F.expr(
            "CAST(sum(decile_cents) OVER (ORDER BY decile) * 1000"
            " div tot AS BIGINT)"
        ).alias("cum_share_permille"),
    ).orderBy("decile")


# --------------------------------------------------------------------
# Tukey IQR fences per group
# --------------------------------------------------------------------

_TUKEY_ORACLE = f"""
WITH v AS (
  SELECT o_orderpriority AS pri, {ORDER_CENTS} AS cents FROM orders),
q AS (
  SELECT pri,
         quantile_cont(CAST(cents AS DOUBLE), 0.25) AS q1,
         quantile_cont(CAST(cents AS DOUBLE), 0.75) AS q3,
         CAST(count(*) AS BIGINT) AS n
  FROM v GROUP BY pri)
SELECT q.pri, q.n, round(q1, 6) AS q1, round(q3, 6) AS q3,
       CAST(sum(CASE WHEN v.cents < q1 - 1.5 * (q3 - q1)
                       OR v.cents > q3 + 1.5 * (q3 - q1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM v JOIN q ON v.pri = q.pri
GROUP BY q.pri, q.n, q1, q3 ORDER BY q.pri
"""


@query("tukey_fences_grouped", oracle=_TUKEY_ORACLE)
def tukey_fences_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per order priority — the quantile
    member of the outlier family (zscore_outliers assumes normality,
    mad_outliers robustness; Tukey is the boxplot rule). Quartiles
    interpolate over exact integer cents cast DOUBLE (identical on
    both engines); the fences are closed-form doubles from those
    quartiles, and the outlier count is an exact integer comparison
    against them. Two passes over the group: quantile state +
    broadcast fence join."""
    o = Catalog(spark, sf_dir).orders
    v = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.expr(ORDER_CENTS).alias("cents"),
    )
    q = v.groupBy("pri").agg(
        F.expr("percentile(CAST(cents AS DOUBLE), 0.25)").alias("q1"),
        F.expr("percentile(CAST(cents AS DOUBLE), 0.75)").alias("q3"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        v.join(F.broadcast(q), "pri")
        .groupBy("pri", "n", "q1", "q3")
        .agg(
            F.sum(
                F.when(
                    (F.col("cents") < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
                    | (
                        F.col("cents")
                        > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "pri",
            "n",
            F.round("q1", 6).alias("q1"),
            F.round("q3", 6).alias("q3"),
            "n_outliers",
        )
        .orderBy("pri")
    )


# --------------------------------------------------------------------
# Theil T index
# --------------------------------------------------------------------

_THEIL_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey, CAST(sum({ORDER_CENTS}) AS BIGINT) AS x
  FROM orders GROUP BY o_custkey),
n AS (SELECT CAST(count(*) AS BIGINT) AS nc,
             CAST(sum(x) AS BIGINT) AS tot
      FROM spend)
SELECT nc AS n_customers,
       round(sum((CAST(x AS DOUBLE) * nc / tot)
                 * ln(CAST(x AS DOUBLE) * nc / tot)) / nc, 6)
           AS theil_t
FROM spend, n GROUP BY nc
"""


@query("theil_index_inequality", oracle=_THEIL_ORACLE)
def theil_index_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T entropy index of spend concentration — unlike Gini it
    decomposes additively across subgroups, which is why mixture
    audits prefer it. Per-customer ratios are doubles over exact
    integers (x·n/total); the ln-weighted sum follows the
    fuzz-validated kl_divergence_drift float shape (sum of
    per-term doubles, round 6)."""
    o = Catalog(spark, sf_dir).orders
    # r13 subtree-sweep fix: the totals and the entropy fold both
    # re-ran the per-customer rollup from parquet. Dimension-sized —
    # checkpoint once.
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.expr(ORDER_CENTS)).cast("long").alias("x")
    ).localCheckpoint()
    n = spend.agg(
        F.count(F.lit(1)).cast("long").alias("nc"),
        F.sum("x").cast("long").alias("tot"),
    )
    return (
        spend.crossJoin(F.broadcast(n))
        .groupBy("nc")
        .agg(
            F.round(
                F.sum(
                    F.expr(
                        "(CAST(x AS DOUBLE) * nc / tot)"
                        " * ln(CAST(x AS DOUBLE) * nc / tot)"
                    )
                )
                / F.col("nc"),
                6,
            ).alias("theil_t")
        )
        .select(F.col("nc").alias("n_customers"), "theil_t")
    )


# --------------------------------------------------------------------
# exact winsorized stats
# --------------------------------------------------------------------

_WINSOR_ORACLE = f"""
WITH v AS (
  SELECT o_orderpriority AS pri, {ORDER_CENTS} AS cents FROM orders),
r AS (
  SELECT pri, cents,
         row_number() OVER (PARTITION BY pri ORDER BY cents) AS rn,
         CAST(count(*) OVER (PARTITION BY pri) AS BIGINT) AS n
  FROM v),
bounds AS (
  SELECT pri,
         max(CASE WHEN rn * 20 <= n THEN cents END) AS lo_cand,
         min(CASE WHEN (n - rn + 1) * 20 <= n THEN cents END)
             AS hi_cand,
         min(cents) AS mn, max(cents) AS mx
  FROM r GROUP BY pri),
b2 AS (
  SELECT pri, coalesce(lo_cand, mn) AS lo, coalesce(hi_cand, mx) AS hi
  FROM bounds),
clipped AS (
  SELECT v.pri,
         CASE WHEN cents < lo THEN lo
              WHEN cents > hi THEN hi ELSE cents END AS c
  FROM v JOIN b2 ON v.pri = b2.pri)
SELECT pri, CAST(count(*) AS BIGINT) AS n,
       CAST(min(c) AS BIGINT) AS lo_bound,
       CAST(max(c) AS BIGINT) AS hi_bound,
       CAST(sum(c) * 1000 // count(*) AS BIGINT)
           AS winsor_mean_milli
FROM clipped GROUP BY pri ORDER BY pri
"""


@query("winsorized_stats_clip", oracle=_WINSOR_ORACLE)
def winsorized_stats_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group with EXACT bounds: the clip levels
    are rank-based order statistics (the largest value in the bottom
    5% by count, the smallest in the top 5%) — actual members, never
    interpolated floats — so the clipped values stay integers and
    the winsorized mean is an exact integer ratio with no float
    accumulation (the failure mode of clip-at-interpolated-quantile
    implementations). One window pass for ranks, one broadcast-bound
    join, one aggregation."""
    o = Catalog(spark, sf_dir).orders
    v = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.expr(ORDER_CENTS).alias("cents"),
    )
    r = v.select(
        "pri",
        "cents",
        F.row_number()
        .over(Window.partitionBy("pri").orderBy("cents"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("pri"))
        .cast("long")
        .alias("n"),
    )
    bounds = r.groupBy("pri").agg(
        F.max(
            F.when(F.col("rn") * 20 <= F.col("n"), F.col("cents"))
        ).alias("lo_cand"),
        F.min(
            F.when(
                (F.col("n") - F.col("rn") + 1) * 20 <= F.col("n"),
                F.col("cents"),
            )
        ).alias("hi_cand"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
    )
    b2 = bounds.select(
        "pri",
        F.coalesce("lo_cand", "mn").alias("lo"),
        F.coalesce("hi_cand", "mx").alias("hi"),
    )
    clipped = v.join(F.broadcast(b2), "pri").select(
        "pri",
        F.expr(
            "CASE WHEN cents < lo THEN lo"
            " WHEN cents > hi THEN hi ELSE cents END"
        ).alias("c"),
    )
    return (
        clipped.groupBy("pri")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("c").cast("long").alias("lo_bound"),
            F.max("c").cast("long").alias("hi_bound"),
            F.expr(
                "CAST(sum(c) * 1000 div count(*) AS BIGINT)"
            ).alias("winsor_mean_milli"),
        )
        .orderBy("pri")
    )


# --------------------------------------------------------------------
# 2-D histogram
# --------------------------------------------------------------------

_H2D_ORACLE = """
WITH b AS (
  SELECT CAST(CAST(round(p_retailprice * 100) AS BIGINT)
              // 20000 AS BIGINT) AS price_bin,
         CAST((p_size - 1) // 10 AS BIGINT) AS size_bin
  FROM part)
SELECT price_bin, size_bin,
       CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY price_bin, size_bin
ORDER BY price_bin, size_bin
"""


@query("histogram2d_bins", oracle=_H2D_ORACLE)
def histogram2d_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram of (price, size) — the joint-distribution grid
    behind scatter-density plots and independence checks; bins are
    integer divisions of exact cents / sizes (200-dollar × 10-size
    cells), one aggregation, cell count bounded by the grid."""
    p = Catalog(spark, sf_dir).part
    b = p.select(
        F.expr(
            "CAST(CAST(round(p_retailprice * 100) AS BIGINT)"
            " div 20000 AS BIGINT)"
        ).alias("price_bin"),
        F.expr("CAST((p_size - 1) div 10 AS BIGINT)").alias(
            "size_bin"
        ),
    )
    return (
        b.groupBy("price_bin", "size_bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("price_bin", "size_bin")
    )


@query(
    "column_profile",
    oracle="""
    SELECT 'o_custkey' AS col, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) - count(o_custkey) AS BIGINT) AS nulls,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(min(o_custkey) AS DOUBLE) AS min_v,
           CAST(max(o_custkey) AS DOUBLE) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*),
           count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           round(min(o_totalprice), 2), round(max(o_totalprice), 2)
    FROM orders
    UNION ALL
    SELECT 'o_shippriority_mod',
           count(*), count(*) - count(o_orderkey),
           count(DISTINCT o_orderkey % 7),
           CAST(min(o_orderkey % 7) AS DOUBLE),
           CAST(max(o_orderkey % 7) AS DOUBLE)
    FROM orders
    ORDER BY col
    """,
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile (count / nulls / distinct / min / max,
    one row per column) — the catalog-profiling surface every data
    discovery tool materializes. All columns profile in a SINGLE scan
    (one wide aggregate, reshaped to long), not a scan per column —
    the difference between O(1) and O(columns) passes at 100 TB."""
    o = Catalog(spark, sf_dir).orders
    wide = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("ck_nn"),
        F.count_distinct("o_custkey").alias("ck_nd"),
        F.min("o_custkey").cast("double").alias("ck_min"),
        F.max("o_custkey").cast("double").alias("ck_max"),
        F.count("o_totalprice").alias("tp_nn"),
        F.count_distinct("o_totalprice").alias("tp_nd"),
        F.round(F.min("o_totalprice"), 2).alias("tp_min"),
        F.round(F.max("o_totalprice"), 2).alias("tp_max"),
        F.count("o_orderkey").alias("sp_nn"),
        F.count_distinct(F.col("o_orderkey") % 7).alias("sp_nd"),
        F.min(F.col("o_orderkey") % 7).cast("double").alias("sp_min"),
        F.max(F.col("o_orderkey") % 7).cast("double").alias("sp_max"),
        # r12 scan-count fix: the long reshape selects this 1-row
        # aggregate once per column — checkpoint it so the single-scan
        # promise in the docstring holds in the executed plan too
    ).localCheckpoint()
    rows = [
        ("o_custkey", "ck_nn", "ck_nd", "ck_min", "ck_max"),
        ("o_totalprice", "tp_nn", "tp_nd", "tp_min", "tp_max"),
        ("o_shippriority_mod", "sp_nn", "sp_nd", "sp_min", "sp_max"),
    ]
    out = None
    for name, nn, nd, mn, mx in rows:
        part = wide.select(
            F.lit(name).alias("col"),
            F.col("n").cast("long").alias("n"),
            (F.col("n") - F.col(nn)).cast("long").alias("nulls"),
            F.col(nd).cast("long").alias("n_distinct"),
            F.col(mn).cast("double").alias("min_v"),
            F.col(mx).cast("double").alias("max_v"),
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("col")


@query(
    "group_size_skew_profile",
    oracle="""
    WITH sizes AS (
      SELECT o_custkey, count(*) AS n_orders
      FROM orders GROUP BY o_custkey)
    SELECT CAST(n_orders AS BIGINT) AS group_size,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(count(*)) OVER (ORDER BY n_orders DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_groups
    FROM sizes GROUP BY n_orders ORDER BY group_size DESC
    """,
)
def group_size_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-size (key-skew) profile: the distribution of orders per
    customer as (size → how many keys), with a cumulative count from
    the heaviest down — the diagnostic you run BEFORE choosing a
    partitioning strategy: a long tail at the top row means salting or
    AQE skew handling, a flat profile means plain hash partitioning is
    fine. Two aggregations; the window runs over the profile (tiny)."""
    o = Catalog(spark, sf_dir).orders
    sizes = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    profile = sizes.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_groups")
    )
    w = (
        Window.orderBy(F.desc("n_orders"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return profile.select(
        F.col("n_orders").cast("long").alias("group_size"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.sum("n_groups").over(w).cast("long").alias("cum_groups"),
    ).orderBy(F.desc("group_size"))


@query(
    "percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile ≡ DuckDB
    quantile_cont). At 100 TB swap to percentile_approx — see
    approx_distinct for the sketch-based pattern."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias(
                "p99"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "stratified_sample",
    oracle="""
    SELECT lang,
           count(*) AS n_total,
           count(*) FILTER (WHERE doc_id % 10 < 2) AS n_sampled,
           round(count(*) FILTER (WHERE doc_id % 10 < 2) * 1.0 / count(*), 4)
               AS rate
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 20% systematic sample per language stratum — the
    rand()-free (doc_id mod) form: reproducible across retries and
    engines, no sampleBy() seed drift. Verification counts per
    stratum prove the rate landed."""
    d = Catalog(spark, sf_dir).documents
    sampled = F.count_if(F.col("doc_id") % 10 < 2)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            sampled.alias("n_sampled"),
            F.round(sampled * 1.0 / F.count(F.lit(1)), 4).alias("rate"),
        )
        .orderBy("lang")
    )


def _u_from_md5_spark() -> str:
    """Deterministic uniform in (0,1): the first 12 md5 nibbles of the
    doc id as an exact integer over 16^12 (nibble-by-nibble instr
    arithmetic — both engines reproduce the integer exactly)."""
    terms = " + ".join(
        f"CAST(instr('0123456789abcdef', substr(h, {i + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (11 - i)}"
        for i in range(12)
    )
    return f"(({terms}) + 1) / CAST({16 ** 12} AS DOUBLE)"


def _u_from_md5_duck() -> str:
    terms = " + ".join(
        f"CAST(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (11 - i)}"
        for i in range(12)
    )
    return f"(({terms}) + 1) / CAST({16 ** 12} AS DOUBLE)"


@query(
    "weighted_sample_topk",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents),
    raced AS (
      SELECT doc_id, n_chars,
             round(-ln({_u_from_md5_duck()}) / n_chars, 9) AS r
      FROM keyed),
    sample AS (SELECT * FROM raced ORDER BY r, doc_id LIMIT 100)
    SELECT count(*) AS k,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(n_chars) AS BIGINT) AS weight_sum,
           round(min(r), 9) AS r_lo, round(max(r), 9) AS r_hi
    FROM sample
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, Efraimidis-Spirakis
    A-ExpJ form: each doc races with an exponential clock
    r = -ln(u)/w (w = n_chars as the quality weight; u a
    deterministic md5-derived uniform, exactly reproducible in both
    engines) and the k smallest r win — inclusion probability
    proportional to weight, the quality-weighted corpus cut an LLM
    pipeline uses to tilt sampling toward high-value documents while
    staying reproducible run to run. Scale shape: map-only key
    computation + ORDER BY r LIMIT k = TakeOrderedAndProject
    (per-partition heap, O(k) memory, no global sort) — identical
    cost to `fixed_size_hash_sample`, which is this operator with
    all weights equal. r is quantized to 9 decimals before the
    cutoff so a 1-ulp libm ln() divergence cannot reorder the
    boundary (gaps between adjacent order statistics are ~1e-5;
    deterministic tie-break on doc_id)."""
    d = Catalog(spark, sf_dir).documents
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    raced = keyed.select(
        "doc_id",
        "n_chars",
        F.round(
            -F.log(F.expr(_u_from_md5_spark())) / F.col("n_chars"), 9
        ).alias("r"),
    )
    sample = raced.orderBy("r", "doc_id").limit(100)
    return sample.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("weight_sum"),
        F.round(F.min("r"), 9).alias("r_lo"),
        F.round(F.max("r"), 9).alias("r_hi"),
    )


@query(
    "fixed_size_hash_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents ORDER BY h, doc_id LIMIT 200)
    SELECT count(*) AS k,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           round(avg(n_chars), 4) AS avg_chars,
           min(h) AS h_lo, max(h) AS h_hi
    FROM ranked
    """,
)
def fixed_size_hash_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic fixed-SIZE uniform sample: the k smallest rows by
    a keyed hash (md5 of the key) — the eval-set / debugging cut every
    pipeline needs that percent-sampling can't give (TABLESAMPLE's
    size drifts with the data; this is exactly k, reproducible on any
    engine, and stable under appends for the rows already chosen
    unless a smaller hash arrives, i.e. a consistent bottom-k sketch).
    Scale shape: ORDER BY hash LIMIT k plans as
    TakeOrderedAndProject — a per-partition top-k heap merged on the
    driver, O(k) memory, NO global sort and no single-partition
    stage (plan-asserted in tests). The oracle replays the identical
    hash ranking; the output checksums the chosen id set so a single
    membership difference breaks parity."""
    d = Catalog(spark, sf_dir).documents
    ranked = (
        d.select(
            "doc_id",
            "n_chars",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
        .orderBy("h", "doc_id")
        .limit(200)
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("h").alias("h_lo"),
        F.max("h").alias("h_hi"),
    )


# --------------------------------------------------------------------
# Neyman allocation
# --------------------------------------------------------------------

_NEYMAN_TOTAL = 1000

_NEYMAN_ORACLE = f"""
WITH s AS (
  SELECT o_orderpriority AS pri,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum({ORDER_CENTS}) AS BIGINT) AS sm,
         sum(CAST({ORDER_CENTS} AS HUGEINT) * {ORDER_CENTS}) AS sq
  FROM orders GROUP BY pri),
w AS (
  SELECT pri, n,
         n * sqrt((CAST(sq AS DOUBLE) - CAST(sm AS DOUBLE) * sm / n)
                  / (n - 1)) AS weight
  FROM s),
tw AS (
  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                  list_sort(list(weight))),
                     (a, b) -> a + b) AS t
  FROM w),
quota AS (
  SELECT pri, n, weight,
         floor(weight * {_NEYMAN_TOTAL} / tw.t) AS base,
         weight * {_NEYMAN_TOTAL} / tw.t
           - floor(weight * {_NEYMAN_TOTAL} / tw.t) AS rem
  FROM w, tw),
leftover AS (
  SELECT CAST({_NEYMAN_TOTAL} - sum(base) AS BIGINT) AS k FROM quota),
ranked AS (
  SELECT pri, n, base,
         row_number() OVER (ORDER BY rem DESC, pri) AS rr
  FROM quota)
SELECT pri, n AS stratum_n,
       CAST(base + CASE WHEN rr <= leftover.k THEN 1 ELSE 0 END
            AS BIGINT) AS sample_size
FROM ranked, leftover ORDER BY pri
"""


@query("neyman_allocation_sampling", oracle=_NEYMAN_ORACLE)
def neyman_allocation_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (optimal) sample allocation: stratum sample sizes
    proportional to n_h·σ_h, which minimizes the estimator variance
    at fixed total n — the statistically-correct upgrade over
    proportional allocation when strata differ in spread. σ_h comes
    from exact integer (n, Σx, Σx²) so both engines derive
    IDENTICAL doubles; the weight total is folded over a SORTED list
    (deterministic order — a bare float sum() could accumulate in
    different orders across engines, the dsir defect class);
    integerization reuses the largest-remainder rule, so the sizes
    sum exactly to the budget of 1000."""
    o = Catalog(spark, sf_dir).orders
    # r12 scan-count fix: the weight total, quota, leftover and rank
    # branches each re-ran the stratum rollup from parquet (4 scans
    # measured); the 5-row stratum table is checkpointed once
    s = (
        o.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr(ORDER_CENTS)).cast("long").alias("sm"),
            F.sum(
                (
                    F.expr(ORDER_CENTS).cast("decimal(38,0)")
                    * F.expr(ORDER_CENTS)
                )
            ).alias("sq"),
        )
        .localCheckpoint()
    )
    w = s.select(
        "pri",
        "n",
        F.expr(
            "n * sqrt((CAST(sq AS DOUBLE)"
            " - CAST(sm AS DOUBLE) * sm / n) / (n - 1))"
        ).alias("weight"),
    )
    tw = w.agg(
        F.expr(
            "aggregate(sort_array(collect_list(weight)),"
            " CAST(0 AS DOUBLE), (a, b) -> a + b)"
        ).alias("t")
    )
    # r13 subtree-sweep fix: leftover and ranked both re-derived the
    # quota rows (re-broadcasting the weight total). Five rows —
    # checkpoint (same fix as largest_remainder_allocation).
    quota = w.crossJoin(F.broadcast(tw)).select(
        "pri",
        "n",
        F.expr(f"floor(weight * {_NEYMAN_TOTAL} / t)").alias("base"),
        F.expr(
            f"weight * {_NEYMAN_TOTAL} / t"
            f" - floor(weight * {_NEYMAN_TOTAL} / t)"
        ).alias("rem"),
    ).localCheckpoint()
    leftover = quota.agg(
        F.expr(f"CAST({_NEYMAN_TOTAL} - sum(base) AS BIGINT)").alias(
            "k"
        )
    )
    ranked = quota.select(
        "pri",
        "n",
        "base",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("pri")))
        .alias("rr"),
    )
    return (
        ranked.crossJoin(F.broadcast(leftover))
        .select(
            "pri",
            F.col("n").alias("stratum_n"),
            F.expr(
                "CAST(base + CASE WHEN rr <= k THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("sample_size"),
        )
        .orderBy("pri")
    )

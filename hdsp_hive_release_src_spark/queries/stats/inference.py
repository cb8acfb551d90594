"""Statistics domain: hypothesis tests, agreement, ranking metrics and
causal estimates.

t/z/chi-square/KS/Mann-Whitney tests, bootstrap and conformal
intervals, rank correlations, kappa statistics, ROC/AUC and
calibration, association rules, survival curves and treatment
effects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import ORDER_CENTS, Catalog
from hdsp_hive_release_src_spark.functions.hashing import CMS_P
from hdsp_hive_release_src_spark.operators.materialize import persist_fact_rows
from hdsp_hive_release_src_spark.operators.ranking import range_prefix_sum
from hdsp_hive_release_src_spark.registry import query


@query(
    "chi_square_independence",
    oracle="""
    WITH obs AS (
      SELECT event_type AS r, user_id % 4 AS c, count(*) AS o
      FROM events GROUP BY r, c),
    rt AS (SELECT r, sum(o) AS rn FROM obs GROUP BY r),
    ct AS (SELECT c, sum(o) AS cn FROM obs GROUP BY c),
    n AS (SELECT sum(o) AS total FROM obs),
    cells AS (
      SELECT obs.r, obs.c, obs.o,
             rt.rn * ct.cn * 1.0 / n.total AS e
      FROM obs JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN n)
    SELECT round(sum((o - e) * (o - e) / e), 4) AS chi2,
           CAST((count(DISTINCT r) - 1) * (count(DISTINCT c) - 1)
                AS BIGINT) AS dof
    FROM cells
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and a user
    bucket (user_id mod 4): observed vs expected contingency counts,
    Σ(O−E)²/E with the (r−1)(c−1) degrees of freedom — the drift /
    A-B sanity test a feature pipeline runs before trusting a split.
    One shuffle builds the contingency cells; marginals are
    aggregate-sized and broadcast back, so the fact table is scanned
    once regardless of table size."""
    ev = Catalog(spark, sf_dir).events
    # r12 scan-count fix: the marginals and total each re-ran the
    # contingency aggregation from parquet (4 scans measured); the
    # cell table is rows x cols values — checkpoint it once
    obs = (
        ev.groupBy(
            F.col("event_type").alias("r"),
            (F.col("user_id") % 4).alias("c"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint()
    )
    rt = obs.groupBy("r").agg(F.sum("o").alias("rn"))
    ct = obs.groupBy("c").agg(F.sum("o").alias("cn"))
    n = obs.agg(F.sum("o").alias("total"))
    cells = (
        obs.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .join(F.broadcast(n))
        .withColumn(
            "e", F.col("rn") * F.col("cn") / F.col("total")
        )
    )
    return cells.agg(
        F.round(
            F.sum(
                (F.col("o") - F.col("e"))
                * (F.col("o") - F.col("e"))
                / F.col("e")
            ),
            4,
        ).alias("chi2"),
        (
            (F.count_distinct("r") - 1) * (F.count_distinct("c") - 1)
        ).cast("long").alias("dof"),
    )


# --------------------------------------------------------------------
# exact two-sample Kolmogorov–Smirnov
# --------------------------------------------------------------------

_KS_ORACLE = """
WITH pts AS (
  SELECT o_totalprice AS v,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM orders GROUP BY o_totalprice),
cum AS (
  SELECT v,
         CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS f1,
         CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS f2
  FROM pts),
tot AS (
  SELECT CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS n2
  FROM orders),
d AS (SELECT v, abs(tot.n2 * cum.f1 - tot.n1 * cum.f2) AS dn
      FROM cum, tot),
mx AS (SELECT CAST(max(dn) AS BIGINT) AS d_num FROM d)
SELECT tot.n1 AS n_a, tot.n2 AS n_b, mx.d_num AS d_num,
       CAST(mx.d_num * 1000 // (tot.n1 * tot.n2) AS BIGINT)
           AS ks_permille,
       CAST((SELECT min(v) FROM d WHERE dn = mx.d_num) AS DOUBLE)
           AS ks_at_value
FROM tot, mx
"""


@query("ks_two_sample", oracle=_KS_ORACLE)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between finished
    ('F') and all other order totalprice distributions, entirely in
    integer arithmetic: D = max |n2·F1(v) − n1·F2(v)| / (n1·n2), where
    the numerator is folded over cumulative integer counts at each
    distinct value — no float ECDF, no rounding boundary, reported as
    exact permille plus the (min) value where the max gap occurs. One
    value-keyed aggregation then a cumulative window over DISTINCT
    values: the window's ordered pass runs over the price grid (cents
    granularity — a bounded domain that does not grow with row count),
    not over rows, which is what keeps the global-order stage viable
    at 100 TB; at cluster scale the same cumsum is a two-pass
    range-partitioned prefix sum. The int64 numerator bounds n1·n2 to
    ~3e9 rows per side — beyond that, scale the permille fold to
    int128/double (documented, not silently truncated)."""
    o = Catalog(spark, sf_dir).orders
    is_a = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    # r12 scan-count fix: the gap table, its max probe, the argmax
    # probe and the group totals each re-executed the value-keyed
    # aggregation from parquet (7 fact scans measured). The price-grid
    # table is checkpointed once (bounded domain — cents granularity);
    # the totals are its column sums, and every probe reads the grid.
    pts = (
        o.select(
            F.col("o_totalprice").alias("v"),
            is_a.alias("a"),
            (1 - is_a).alias("b"),
        )
        .groupBy("v")
        .agg(
            F.sum("a").cast("long").alias("c1"),
            F.sum("b").cast("long").alias("c2"),
        )
        .localCheckpoint()
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pts.select(
        "v",
        F.sum("c1").over(w).cast("long").alias("f1"),
        F.sum("c2").over(w).cast("long").alias("f2"),
    )
    tot = pts.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    # r13 subtree-sweep fix: `d` feeds the max probe AND the argmax
    # probe, and `tot` is broadcast into d and re-read by the final
    # select — the cumulative window over the price grid executed
    # twice and the totals aggregate four times. Both are grid-sized
    # (bounded cents domain), so one checkpoint each makes every
    # downstream probe a single pass over materialized data.
    tot = tot.localCheckpoint()
    d = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "v",
            "n1",
            "n2",
            F.abs(
                F.col("n2") * F.col("f1") - F.col("n1") * F.col("f2")
            ).alias("dn"),
        )
        .localCheckpoint()
    )
    # mx feeds both the argmax join and the final row — 1-row
    # checkpoint so the grid aggregate runs once
    mx = d.agg(
        F.max("dn").cast("long").alias("d_num")
    ).localCheckpoint()
    at = (
        d.join(F.broadcast(mx), d.dn == mx.d_num)
        .agg(F.min("v").alias("ks_at_value"))
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            F.col("n1").alias("n_a"),
            F.col("n2").alias("n_b"),
            F.col("d_num"),
            F.expr("d_num * 1000 div (n1 * n2)")
            .cast("long")
            .alias("ks_permille"),
            F.col("ks_at_value").cast("double"),
        )
    )


# --------------------------------------------------------------------
# deterministic resampling statistics (A/B-eval primitives)
# --------------------------------------------------------------------

#: bootstrap replicates and membership hash constants — affine hash on
#: (o_orderkey, replicate) keeps every membership decision in exact
#: int64, so DuckDB replays each resample bit-for-bit.
_BOOT_B = 40
_BOOT_A = 2654435761
_BOOT_P = 2147483647


@query(
    "bootstrap_ci_mean",
    oracle=f"""
    WITH src AS (
      SELECT o_orderkey AS k, CAST(o_totalprice * 100 AS BIGINT) AS cents
      FROM orders WHERE o_orderkey < 8000),
    rep AS (
      SELECT b, k, cents
      FROM src, unnest(range(0, {_BOOT_B})) AS r(b)
      WHERE (({_BOOT_A} * (k + 131 * (b + 1))) % {_BOOT_P}) % 2 = 0),
    means AS (
      SELECT b, CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
      FROM rep GROUP BY b),
    ranked AS (
      SELECT mean_cents,
             row_number() OVER (ORDER BY mean_cents, b) AS rnk
      FROM means)
    SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           CAST(min(CASE WHEN rnk = 2 THEN mean_cents END) AS BIGINT)
               AS ci_lo_cents,
           CAST(min(CASE WHEN rnk = {_BOOT_B - 1} THEN mean_cents END)
                AS BIGINT) AS ci_hi_cents,
           CAST(sum(mean_cents) // {_BOOT_B} AS BIGINT)
               AS mean_of_means_cents
    FROM ranked
    """,
)
def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic subsample bootstrap for a mean: B half-samples
    whose membership is an affine hash of (row key, replicate) — the
    reproducible stand-in for rand() resampling (same CI on any
    engine, any partitioning, any retry). Scale shape: ONE scan with a
    map-side ×B replicate expansion (explode of a literal range — no
    self-join, no shuffle of the base table), per-replicate partial
    sums, a B-row aggregate, and the CI picked by rank from B sorted
    means. All arithmetic is exact integer cents; the 90% CI bounds
    are order statistics 2 and B-1 of the replicate means."""
    o = Catalog(spark, sf_dir).orders.where(F.col("o_orderkey") < 8000)
    src = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    rep = (
        src.select(
            "k", "cents",
            F.explode(
                F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
            ).alias("b"),
        )
        .where(
            (
                (F.lit(_BOOT_A) * (F.col("k") + 131 * (F.col("b") + 1)))
                % _BOOT_P
            )
            % 2
            == 0
        )
    )
    means = rep.groupBy("b").agg(
        F.expr("sum(cents) div count(*)").cast("long").alias("mean_cents")
    )
    w = Window.orderBy("mean_cents", "b")
    ranked = means.withColumn("rnk", F.row_number().over(w))
    return ranked.agg(
        F.lit(_BOOT_B).cast("long").alias("n_replicates"),
        F.min(
            F.when(F.col("rnk") == 2, F.col("mean_cents"))
        ).cast("long").alias("ci_lo_cents"),
        F.min(
            F.when(F.col("rnk") == _BOOT_B - 1, F.col("mean_cents"))
        ).cast("long").alias("ci_hi_cents"),
        F.expr(f"sum(mean_cents) div {_BOOT_B}")
        .cast("long")
        .alias("mean_of_means_cents"),
    )


@query(
    "mann_whitney_u",
    oracle="""
    WITH src AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b'
             END AS grp,
             CAST(o_totalprice * 100 AS BIGINT) AS cents
      FROM orders
      WHERE o_orderkey < 6000
        AND o_orderpriority IN ('1-URGENT', '5-LOW')),
    ranked AS (
      SELECT grp, cents,
             rank() OVER (ORDER BY cents) * 2
               + count(*) OVER (PARTITION BY cents) - 1 AS rank2
      FROM src)
    SELECT CAST(count(CASE WHEN grp = 'a' THEN 1 END) AS BIGINT) AS n_a,
           CAST(count(CASE WHEN grp = 'b' THEN 1 END) AS BIGINT) AS n_b,
           CAST((sum(CASE WHEN grp = 'a' THEN rank2 ELSE 0 END)
                 - count(CASE WHEN grp = 'a' THEN 1 END)
                   * (count(CASE WHEN grp = 'a' THEN 1 END) + 1))
                // 2 AS BIGINT) AS u_a,
           CAST((sum(CASE WHEN grp = 'b' THEN rank2 ELSE 0 END)
                 - count(CASE WHEN grp = 'b' THEN 1 END)
                   * (count(CASE WHEN grp = 'b' THEN 1 END) + 1))
                // 2 AS BIGINT) AS u_b
    FROM ranked
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between two order-priority
    groups — the nonparametric two-sample test an eval pipeline runs
    when score distributions aren't normal. Kept fully exact: ranks
    are doubled so tie-averaged ranks stay integral (2·avg_rank =
    rank + (rank + ties - 1)), and U = (Σ2r - n(n+1))/2 divides back
    out in integer arithmetic — zero float anywhere, so partitioning
    and engine cannot move the statistic. One global rank over the
    filtered sample (windowed; spillable) + one aggregate.
    Self-check: u_a + u_b == n_a·n_b by construction."""
    o = Catalog(spark, sf_dir).orders.where(
        (F.col("o_orderkey") < 6000)
        & F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    src = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "a")
        .otherwise("b")
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ranked = src.select(
        "grp",
        (
            F.rank().over(Window.orderBy("cents")) * 2
            + F.count(F.lit(1)).over(Window.partitionBy("cents"))
            - 1
        ).alias("rank2"),
    )
    is_a = (F.col("grp") == "a").cast("long")
    is_b = (F.col("grp") == "b").cast("long")
    return ranked.agg(
        F.sum(is_a).alias("n_a"),
        F.sum(is_b).alias("n_b"),
        (
            (
                F.sum(F.when(F.col("grp") == "a", F.col("rank2"))
                      .otherwise(0))
                - F.sum(is_a) * (F.sum(is_a) + 1)
            )
            / 2
        ).cast("long").alias("u_a"),
        (
            (
                F.sum(F.when(F.col("grp") == "b", F.col("rank2"))
                      .otherwise(0))
                - F.sum(is_b) * (F.sum(is_b) + 1)
            )
            / 2
        ).cast("long").alias("u_b"),
    )


# --------------------------------------------------------------------
# Welch's t-test
# --------------------------------------------------------------------

_WELCH_ORACLE = f"""
WITH g AS (
  SELECT (o_orderstatus = 'F') AS is_f, {ORDER_CENTS} AS cents
  FROM orders),
s AS (
  SELECT is_f,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS DOUBLE) AS sm,
         CAST(sum(cents * cents) AS DOUBLE) AS sq
  FROM g GROUP BY is_f),
w AS (
  SELECT max(CASE WHEN is_f THEN n END) AS n1,
         max(CASE WHEN is_f THEN sm END) AS s1,
         max(CASE WHEN is_f THEN sq END) AS q1,
         max(CASE WHEN NOT is_f THEN n END) AS n2,
         max(CASE WHEN NOT is_f THEN sm END) AS s2,
         max(CASE WHEN NOT is_f THEN sq END) AS q2
  FROM s)
SELECT n1 AS n_f, n2 AS n_other,
       s1 / n1 AS mean_f_cents, s2 / n2 AS mean_other_cents,
       (s1 / n1 - s2 / n2)
         / sqrt((q1 - s1 * s1 / n1) / (n1 - 1) / n1
                + (q2 - s2 * s2 / n2) / (n2 - 1) / n2) AS t_stat,
       pow((q1 - s1 * s1 / n1) / (n1 - 1) / n1
           + (q2 - s2 * s2 / n2) / (n2 - 1) / n2, 2)
         / (pow((q1 - s1 * s1 / n1) / (n1 - 1) / n1, 2) / (n1 - 1)
            + pow((q2 - s2 * s2 / n2) / (n2 - 1) / n2, 2) / (n2 - 1))
         AS welch_df
FROM w
"""


@query("welch_t_test", oracle=_WELCH_ORACLE)
def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t on order value, finished
    orders vs the rest. One map-side-combined pass per group collects
    (n, Σx, Σx²) — Σx² runs as DECIMAL(38,0) because cents² sums past
    int64 already at sf0.1 (DuckDB promotes to HUGEINT on its own).
    t and the Welch–Satterthwaite df are closed-form doubles over
    those exact sums, identical expression shape both engines, so
    there is no accumulation-order float anywhere (the standing
    dsir rule)."""
    o = Catalog(spark, sf_dir).orders
    g = o.select(
        (F.col("o_orderstatus") == "F").alias("is_f"),
        F.expr(ORDER_CENTS).alias("cents"),
    )
    s = g.groupBy("is_f").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)"))
        .cast("double")
        .alias("sm"),
        F.sum(
            (F.col("cents") * F.col("cents")).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sq"),
    )
    w = s.agg(
        F.max(F.when(F.col("is_f"), F.col("n"))).alias("n1"),
        F.max(F.when(F.col("is_f"), F.col("sm"))).alias("s1"),
        F.max(F.when(F.col("is_f"), F.col("sq"))).alias("q1"),
        F.max(F.when(~F.col("is_f"), F.col("n"))).alias("n2"),
        F.max(F.when(~F.col("is_f"), F.col("sm"))).alias("s2"),
        F.max(F.when(~F.col("is_f"), F.col("sq"))).alias("q2"),
    )
    se1 = "(q1 - s1 * s1 / n1) / (n1 - 1) / n1"
    se2 = "(q2 - s2 * s2 / n2) / (n2 - 1) / n2"
    return w.select(
        F.col("n1").alias("n_f"),
        F.col("n2").alias("n_other"),
        F.expr("s1 / n1").alias("mean_f_cents"),
        F.expr("s2 / n2").alias("mean_other_cents"),
        F.expr(
            f"(s1 / n1 - s2 / n2) / sqrt({se1} + {se2})"
        ).alias("t_stat"),
        F.expr(
            f"pow({se1} + {se2}, 2)"
            f" / (pow({se1}, 2) / (n1 - 1)"
            f"    + pow({se2}, 2) / (n2 - 1))"
        ).alias("welch_df"),
    )


# --------------------------------------------------------------------
# Spearman rank correlation
# --------------------------------------------------------------------

_SPEARMAN_ORACLE = """
WITH d AS (
  SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS x,
         CAST(p_size AS BIGINT) AS y
  FROM part),
r AS (
  SELECT 2 * rank() OVER (ORDER BY x)
           + count(*) OVER (PARTITION BY x) - 1 AS dx,
         2 * rank() OVER (ORDER BY y)
           + count(*) OVER (PARTITION BY y) - 1 AS dy
  FROM d),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(dx) AS sx, sum(dy) AS sy,
         sum(CAST(dx AS HUGEINT) * dx) AS sxx,
         sum(CAST(dy AS HUGEINT) * dy) AS syy,
         sum(CAST(dx AS HUGEINT) * dy) AS sxy
  FROM r)
SELECT n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS spearman_rho
FROM s
"""


@query("spearman_rank_corr", oracle=_SPEARMAN_ORACLE)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between part price and size. Ties use
    average ranks, kept INTEGRAL by doubling: 2·avg_rank = 2·rank() +
    ties − 1 (the r8 mann_whitney identity) — Pearson over ranks is
    scale-invariant, so the doubled ranks give the same ρ with every
    accumulator an exact integer (DECIMAL(38,0)/HUGEINT for the cross
    sums). One window pass per axis, one global agg; ρ is a single
    closed-form double."""
    p = Catalog(spark, sf_dir).part
    from pyspark.sql.window import Window

    d = p.select(
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias(
            "x"
        ),
        F.col("p_size").cast("long").alias("y"),
    )
    r = d.select(
        (
            2 * F.rank().over(Window.orderBy("x"))
            + F.count(F.lit(1)).over(Window.partitionBy("x"))
            - 1
        ).alias("dx"),
        (
            2 * F.rank().over(Window.orderBy("y"))
            + F.count(F.lit(1)).over(Window.partitionBy("y"))
            - 1
        ).alias("dy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(dec("dx") * dec("dx")).alias("sxx"),
        F.sum(dec("dy") * dec("dy")).alias("syy"),
        F.sum(dec("dx") * dec("dy")).alias("sxy"),
    )
    return s.select(
        "n",
        F.expr(
            "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            "  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            "          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            "        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
        ).alias("spearman_rho"),
    )


# --------------------------------------------------------------------
# Cramér's V effect size
# --------------------------------------------------------------------

_CRAMER_ORACLE = """
WITH cell AS (
  SELECT o_orderstatus AS s, o_orderpriority AS p,
         CAST(count(*) AS BIGINT) AS o
  FROM orders GROUP BY 1, 2),
rt AS (SELECT s, CAST(sum(o) AS BIGINT) AS r FROM cell GROUP BY s),
ct AS (SELECT p, CAST(sum(o) AS BIGINT) AS c FROM cell GROUP BY p),
n AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
             CAST(count(DISTINCT s) AS BIGINT) AS nr,
             CAST(count(DISTINCT p) AS BIGINT) AS nc
      FROM cell),
contrib AS (
  SELECT CAST((CAST(cell.o * n.nn - rt.r * ct.c AS HUGEINT)
               * (cell.o * n.nn - rt.r * ct.c)) * 1000000
              // (CAST(rt.r AS HUGEINT) * ct.c) // n.nn
           AS BIGINT) AS micro
  FROM cell JOIN rt USING (s) JOIN ct USING (p) CROSS JOIN n)
SELECT n.nn AS n, n.nr AS n_rows_levels, n.nc AS n_col_levels,
       CAST(sum(contrib.micro) AS BIGINT) AS chi2_micro,
       sqrt(CAST(sum(contrib.micro) AS DOUBLE)
            / (1000000.0 * CAST(n.nn AS DOUBLE)
               * (CASE WHEN n.nr < n.nc THEN n.nr ELSE n.nc END - 1)))
           AS cramers_v
FROM contrib CROSS JOIN n
GROUP BY n.nn, n.nr, n.nc
"""


@query("cramers_v_effect", oracle=_CRAMER_ORACLE)
def cramers_v_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for the status×priority contingency — the effect
    size chi_square_independence doesn't report. Per-cell chi²
    contributions are folded in exact integer MICRO-units
    ((O·N − R·C)²·10⁶ div (R·C) div N, promoted to
    DECIMAL(38,0)/HUGEINT because (O·N)² passes int64 at sf0.1), so
    the cross-cell sum — the one place float addition order could
    bite — is integer-exact; V is a single closed-form sqrt. The
    contingency table is 15 cells: everything after the first
    aggregation is broadcast-sized."""
    o = Catalog(spark, sf_dir).orders
    # r12 scan-count fix: marginals/totals/contrib each re-ran the
    # contingency aggregation from parquet (4 scans measured); the
    # 15-cell table is checkpointed once
    cell = (
        o.groupBy(
            F.col("o_orderstatus").alias("s"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint()
    )
    rt = cell.groupBy("s").agg(F.sum("o").cast("long").alias("r"))
    ct = cell.groupBy("p").agg(F.sum("o").cast("long").alias("c"))
    n = cell.agg(
        F.sum("o").cast("long").alias("nn"),
        F.countDistinct("s").cast("long").alias("nr"),
        F.countDistinct("p").cast("long").alias("nc"),
    )
    contrib = (
        cell.join(F.broadcast(rt), "s")
        .join(F.broadcast(ct), "p")
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(
                "CAST((CAST(o * nn - r * c AS DECIMAL(38,0))"
                "      * (o * nn - r * c)) * 1000000"
                " div (CAST(r AS DECIMAL(38,0)) * c) div nn"
                " AS BIGINT)"
            ).alias("micro"),
            "nn",
            "nr",
            "nc",
        )
    )
    return contrib.groupBy("nn", "nr", "nc").agg(
        F.sum("micro").cast("long").alias("chi2_micro")
    ).select(
        F.col("nn").alias("n"),
        F.col("nr").alias("n_rows_levels"),
        F.col("nc").alias("n_col_levels"),
        "chi2_micro",
        F.expr(
            "sqrt(CAST(chi2_micro AS DOUBLE)"
            " / (1000000.0 * CAST(nn AS DOUBLE)"
            "    * (CASE WHEN nr < nc THEN nr ELSE nc END - 1)))"
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------
# Cohen's kappa between two rule raters
# --------------------------------------------------------------------

_KAPPA_ORACLE = """
WITH rated AS (
  SELECT (n_chars >= 300) AS a,
         (strlen(text) - strlen(replace(text, ' ', '')) >= 45) AS b
  FROM documents),
cm AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
             AS tp,
         CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
             AS fn,
         CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
             AS fp,
         CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM rated)
SELECT n, tp, fn, fp, tn,
       (CAST(n AS DOUBLE) * (tp + tn)
          - (CAST(tp + fn AS DOUBLE) * (tp + fp)
             + CAST(tn + fp AS DOUBLE) * (tn + fn)))
       / (CAST(n AS DOUBLE) * n
          - (CAST(tp + fn AS DOUBLE) * (tp + fp)
             + CAST(tn + fp AS DOUBLE) * (tn + fn))) AS kappa
FROM cm
"""


@query("cohens_kappa_raters", oracle=_KAPPA_ORACLE)
def cohens_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document 'raters'
    (length rule vs whitespace-token rule) — the agreement statistic
    a labeling pipeline reports when two heuristic annotators vote.
    The 2×2 confusion matrix is exact integer; kappa is one
    closed-form quotient (κ = (N·agree − Σ marginal products) /
    (N² − Σ marginal products)). One scan, one row out."""
    d = Catalog(spark, sf_dir).documents
    rated = d.select(
        (F.col("n_chars") >= 300).alias("a"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            >= 45
        ).alias("b"),
    )
    cm = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    return cm.select(
        "n",
        "tp",
        "fn",
        "fp",
        "tn",
        F.expr(
            "(CAST(n AS DOUBLE) * (tp + tn)"
            "  - (CAST(tp + fn AS DOUBLE) * (tp + fp)"
            "     + CAST(tn + fp AS DOUBLE) * (tn + fn)))"
            " / (CAST(n AS DOUBLE) * n"
            "    - (CAST(tp + fn AS DOUBLE) * (tp + fp)"
            "       + CAST(tn + fp AS DOUBLE) * (tn + fn)))"
        ).alias("kappa"),
    )


# --------------------------------------------------------------------
# two-proportion z-test
# --------------------------------------------------------------------

_AB_ORACLE = """
WITH per_user AS (
  SELECT user_id, user_id % 2 AS grp,
         CASE WHEN sum(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END) * 5 > count(*)
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id),
g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(converted) AS BIGINT) AS x
  FROM per_user GROUP BY grp),
w AS (
  SELECT max(CASE WHEN grp = 0 THEN n END) AS na,
         max(CASE WHEN grp = 0 THEN x END) AS xa,
         max(CASE WHEN grp = 1 THEN n END) AS nb,
         max(CASE WHEN grp = 1 THEN x END) AS xb
  FROM g)
SELECT na, xa, nb, xb,
       (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
       / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
              * (1 - CAST(xa + xb AS DOUBLE) / (na + nb))
              * (1.0 / na + 1.0 / nb)) AS z_stat
FROM w
"""


@query("abtest_proportions_ztest", oracle=_AB_ORACLE)
def abtest_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between A/B buckets (user_id parity —
    stand-in for the experiment hash): conversion = the user's
    purchase SHARE exceeds the uniform-mix expectation (count·5 >
    total, an exact integer predicate) — scale-free, so both arms
    keep a non-degenerate rate at every SF (an any-purchase rule
    saturates to p=1 and zeroes the pooled variance). Counts are
    exact integers from one per-user rollup; the pooled-proportion z
    is a single closed-form double. The per-user pre-aggregation is
    what keeps the test user-level (event-level counting would
    overweight heavy users — the classic A/B mistake)."""
    e = Catalog(spark, sf_dir).events
    per_user = e.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(
                    0
                )
            )
            * 5
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select(
        (F.col("user_id") % 2).alias("grp"), "converted"
    )
    g = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == 0, F.col("x"))).alias("xa"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == 1, F.col("x"))).alias("xb"),
    )
    return w.select(
        "na",
        "xa",
        "nb",
        "xb",
        F.expr(
            "(CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)"
            " / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))"
            "        * (1 - CAST(xa + xb AS DOUBLE) / (na + nb))"
            "        * (1.0 / na + 1.0 / nb))"
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------
# Fleiss kappa (3 rule raters)
# --------------------------------------------------------------------

_FLEISS_ORACLE = """
WITH rated AS (
  SELECT (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
         + (CASE WHEN strlen(text) - strlen(replace(text, ' ', ''))
                      >= 45 THEN 1 ELSE 0 END)
         + (CASE WHEN strlen(text) >= 250 THEN 1 ELSE 0 END) AS k
  FROM documents),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(k) AS BIGINT) AS sum_true,
         CAST(sum(k * k + (3 - k) * (3 - k)) AS BIGINT) AS sum_sq
  FROM rated)
SELECT n_items, sum_true,
       (CAST(sum_sq - 3 * n_items AS DOUBLE) / (n_items * 6)
        - (CAST(sum_true AS DOUBLE) / (3 * n_items)
             * (CAST(sum_true AS DOUBLE) / (3 * n_items))
           + (1 - CAST(sum_true AS DOUBLE) / (3 * n_items))
             * (1 - CAST(sum_true AS DOUBLE) / (3 * n_items))))
       / (1 - (CAST(sum_true AS DOUBLE) / (3 * n_items)
                 * (CAST(sum_true AS DOUBLE) / (3 * n_items))
               + (1 - CAST(sum_true AS DOUBLE) / (3 * n_items))
                 * (1 - CAST(sum_true AS DOUBLE) / (3 * n_items))))
         AS fleiss_kappa
FROM s
"""


@query("fleiss_kappa_raters", oracle=_FLEISS_ORACLE)
def fleiss_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over THREE deterministic binary raters (char
    length, whitespace tokens, byte length) — the multi-annotator
    generalization of cohens_kappa_raters. With n=3 raters and 2
    categories, each item's agreement reduces to k²+(3−k)² where k =
    votes for TRUE, so the whole statistic folds to two exact integer
    sums; P̄ and P̄e are closed-form doubles over them. One scan, one
    row."""
    d = Catalog(spark, sf_dir).documents
    rated = d.select(
        (
            F.when(F.col("n_chars") >= 300, 1).otherwise(0)
            + F.when(
                F.length("text")
                - F.length(F.regexp_replace("text", " ", ""))
                >= 45,
                1,
            ).otherwise(0)
            + F.when(F.length("text") >= 250, 1).otherwise(0)
        ).alias("k")
    )
    s = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("k").cast("long").alias("sum_true"),
        F.sum(
            F.col("k") * F.col("k")
            + (3 - F.col("k")) * (3 - F.col("k"))
        )
        .cast("long")
        .alias("sum_sq"),
    )
    pbar_e = (
        "(CAST(sum_true AS DOUBLE) / (3 * n_items)"
        "   * (CAST(sum_true AS DOUBLE) / (3 * n_items))"
        " + (1 - CAST(sum_true AS DOUBLE) / (3 * n_items))"
        "   * (1 - CAST(sum_true AS DOUBLE) / (3 * n_items)))"
    )
    return s.select(
        "n_items",
        "sum_true",
        F.expr(
            f"(CAST(sum_sq - 3 * n_items AS DOUBLE) / (n_items * 6)"
            f" - {pbar_e}) / (1 - {pbar_e})"
        ).alias("fleiss_kappa"),
    )


# --------------------------------------------------------------------
# exact ROC-AUC
# --------------------------------------------------------------------

_AUC_ORACLE = f"""
WITH s AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
         {ORDER_CENTS} AS c
  FROM orders),
g AS (
  SELECT c, CAST(sum(pos) AS BIGINT) AS np,
         CAST(count(*) AS BIGINT) AS cnt
  FROM s GROUP BY c),
cum AS (
  SELECT c, np, cnt,
         CAST(sum(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS f
  FROM g),
agg AS (
  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         CAST(sum(cnt - np) AS BIGINT) AS n_neg,
         CAST(sum(np * (2 * f - cnt + 1)) AS BIGINT) AS s2p
  FROM cum)
SELECT n_pos, n_neg,
       CAST((s2p - n_pos * (n_pos + 1)) * 500
            // (n_pos * n_neg) AS BIGINT) AS auc_permille
FROM agg
"""


@query("roc_auc_exact", oracle=_AUC_ORACLE)
def roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of totalprice as a classifier for finished
    orders, via the rank identity AUC = U/(n_pos·n_neg) with
    tie-averaged ranks — the eval-pipeline scalar that tells you
    whether a quality score separates two classes. Everything stays
    integer: doubled tie-averaged rank per distinct score value is
    2·cum_cnt − cnt + 1 (integral by construction), and the permille
    fold is one integer division at the end. The cumulative count
    runs through operators/ranking.range_prefix_sum — the two-pass
    range-partitioned prefix sum, so the Spark plan has NO global
    window (this is the driver-gated composition of the operator the
    mann_whitney_u / ks_two_sample docstrings name as their
    cluster-scale swap; tests/test_prefix_sum_lockstep.py proves the
    swap bit-exact against the windowed form). Int64 bound: the
    Σ np·rank2 fold caps at 2N², safe to ~2e9 rows — beyond that
    scale the fold to decimal (documented, not silently truncated)."""
    o = Catalog(spark, sf_dir).orders
    s = o.select(
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(0)
        .alias("pos"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    g = s.groupBy("c").agg(
        F.sum("pos").cast("long").alias("np"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    cum = range_prefix_sum(g, "c", [], ["cnt"])
    rank2 = 2 * F.col("cum_cnt") - F.col("cnt") + 1
    agg = cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("np")).cast("long").alias("n_neg"),
        F.sum(F.col("np") * rank2).cast("long").alias("s2p"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.expr(
            "(s2p - n_pos * (n_pos + 1)) * 500 div (n_pos * n_neg)"
        )
        .cast("long")
        .alias("auc_permille"),
    )


# --------------------------------------------------------------------
# Kendall tau-b on a bounded contingency grid
# --------------------------------------------------------------------

_TAU_ORACLE = """
WITH s AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS x,
         month(CAST(o_orderdate AS DATE)) AS y
  FROM orders),
g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM s
      GROUP BY x, y),
pairs AS (
  SELECT
    CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
             THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c_pairs,
    CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
             THEN a.n * b.n ELSE 0 END) AS BIGINT) AS d_pairs
  FROM g a CROSS JOIN g b),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(n * (n - 1)) // 2 AS BIGINT) AS tie_xy
  FROM g),
mx AS (
  SELECT CAST(sum(m * (m - 1)) // 2 AS BIGINT) AS tie_x
  FROM (SELECT CAST(sum(n) AS BIGINT) AS m FROM g GROUP BY x)),
my AS (
  SELECT CAST(sum(m * (m - 1)) // 2 AS BIGINT) AS tie_y
  FROM (SELECT CAST(sum(n) AS BIGINT) AS m FROM g GROUP BY y))
SELECT c_pairs, d_pairs, tie_x, tie_y,
       CAST(nn * (nn - 1) // 2 AS BIGINT) AS n0,
       round((c_pairs - d_pairs)
             / sqrt((nn * (nn - 1) / 2.0 - tie_x)
                    * (nn * (nn - 1) / 2.0 - tie_y)), 6) AS tau_b
FROM pairs, tot, mx, my
"""


@query("kendall_tau_b_grid", oracle=_TAU_ORACLE)
def kendall_tau_b_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b between order-priority ordinal and order
    month, computed entirely on the (x, y) CONTINGENCY grid: with 5×12
    = 60 cells, concordant/discordant pair counts fold as
    Σ n_a·n_b over strictly-ordered cell pairs — a 60×60 broadcast
    grid join, never an n² row pair join, so the shape is
    corpus-size-independent (the grid is bounded by the domain, not
    the data). All pair counts are exact int64 (n² caps at ~3e9 rows,
    the same documented bound as ks_two_sample); only the final tau_b
    normalization touches floats (sqrt of exact integers, rounded 6).
    The tie terms use the marginal counts — tau-b's correction for
    both variables being discrete."""
    o = Catalog(spark, sf_dir).orders
    s = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("x"),
        F.month("o_orderdate").alias("y"),
    )
    # r12 scan-count fix: both grid sides, the total and the two tie
    # terms each re-ran the contingency aggregation from parquet (5
    # scans measured); the 60-cell grid is checkpointed once
    g = (
        s.groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    a = g.alias("a")
    b = g.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(b))
        .agg(
            F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x"))
                    & (F.col("b.y") > F.col("a.y")),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("c_pairs"),
            F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x"))
                    & (F.col("b.y") < F.col("a.y")),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("d_pairs"),
        )
    )
    tot = g.agg(F.sum("n").cast("long").alias("nn"))
    tie_x = (
        g.groupBy("x")
        .agg(F.sum("n").alias("m"))
        .agg(
            F.sum(F.expr("m * (m - 1) div 2"))
            .cast("long")
            .alias("tie_x")
        )
    )
    tie_y = (
        g.groupBy("y")
        .agg(F.sum("n").alias("m"))
        .agg(
            F.sum(F.expr("m * (m - 1) div 2"))
            .cast("long")
            .alias("tie_y")
        )
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tie_x))
        .crossJoin(F.broadcast(tie_y))
        .select(
            "c_pairs",
            "d_pairs",
            "tie_x",
            "tie_y",
            F.expr("nn * (nn - 1) div 2").cast("long").alias("n0"),
            F.round(
                (F.col("c_pairs") - F.col("d_pairs"))
                / F.sqrt(
                    (
                        F.col("nn") * (F.col("nn") - 1) / 2.0
                        - F.col("tie_x")
                    )
                    * (
                        F.col("nn") * (F.col("nn") - 1) / 2.0
                        - F.col("tie_y")
                    )
                ),
                6,
            ).alias("tau_b"),
        )
    )


# --------------------------------------------------------------------
# calibration curve + Brier score
# --------------------------------------------------------------------

_CAL_ORACLE = """
WITH s AS (
  SELECT o_orderkey % 101 AS pc,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum((pc - 100 * y) * (pc - 100 * y)) AS BIGINT) AS sq
  FROM s),
b AS (
  SELECT least(9, pc // 10) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pc) AS BIGINT) AS sp,
         CAST(sum(y) AS BIGINT) AS sy
  FROM s GROUP BY 1)
SELECT CAST(bin AS BIGINT) AS bin, b.n,
       CAST(sp * 10 // b.n AS BIGINT) AS pred_permille,
       CAST(sy * 1000 // b.n AS BIGINT) AS obs_permille,
       CAST(tot.sq * 100 // tot.n AS BIGINT) AS brier_micro
FROM b CROSS JOIN tot ORDER BY bin
"""


@query("calibration_curve_bins", oracle=_CAL_ORACLE)
def calibration_curve_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability-diagram bins for a deterministic centi-probability
    score (orderkey % 101 — a replayable stand-in for a model score)
    against the finished-order label, plus the Brier score: per
    decile bin, mean predicted probability (permille) vs observed
    positive rate (permille), and the global mean squared error in
    micro units. The whole pipeline is integer — (pc − 100y)² stays
    int64, and every mean is numerator-first integer division — so
    both engines land on identical bins and identical Brier to the
    last digit. One scan, one 10-row aggregation, one scalar
    aggregate broadcast onto the bins."""
    o = Catalog(spark, sf_dir).orders
    s = o.select(
        (F.col("o_orderkey") % 101).alias("pc"),
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(0)
        .alias("y"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("long").alias("n_tot"),
        F.sum(
            (F.col("pc") - 100 * F.col("y"))
            * (F.col("pc") - 100 * F.col("y"))
        )
        .cast("long")
        .alias("sq"),
    )
    b = s.groupBy(
        F.least(F.lit(9), F.expr("pc div 10")).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pc").cast("long").alias("sp"),
        F.sum("y").cast("long").alias("sy"),
    )
    return (
        b.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long"),
            "n",
            F.expr("sp * 10 div n").cast("long").alias("pred_permille"),
            F.expr("sy * 1000 div n").cast("long").alias("obs_permille"),
            F.expr("sq * 100 div n_tot")
            .cast("long")
            .alias("brier_micro"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------
# stratified ATE by g-computation
# --------------------------------------------------------------------

#: deterministic user-level treatment assignment: affine hash mod 2
#: (the repo's exact-int64 sketch idiom) — both engines replay the
#: same arm per user, so the "experiment" is exactly reproducible.
ATE_A, ATE_B = 48271, 12345

_ATE_ORACLE = f"""
WITH base AS (
  SELECT event_type AS stratum,
         (({ATE_A} * user_id + {ATE_B}) % {CMS_P}) % 2 AS t,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
g AS (
  SELECT stratum,
         CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         CAST(sum(CASE WHEN t = 1 THEN cents ELSE 0 END) AS BIGINT)
             AS st,
         CAST(sum(CASE WHEN t = 0 THEN cents ELSE 0 END) AS BIGINT)
             AS sc
  FROM base GROUP BY stratum
  HAVING sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) > 0
     AND sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) > 0),
per AS (
  SELECT stratum, nt, nc,
         CAST(st // nt AS BIGINT) AS mean_treat_cents,
         CAST(sc // nc AS BIGINT) AS mean_ctrl_cents,
         CAST(st // nt - sc // nc AS BIGINT) AS effect_cents
  FROM g),
allr AS (
  SELECT '_all' AS stratum,
         CAST(sum(nt) AS BIGINT) AS nt, CAST(sum(nc) AS BIGINT) AS nc,
         CAST(sum(st) // sum(nt) AS BIGINT) AS mean_treat_cents,
         CAST(sum(sc) // sum(nc) AS BIGINT) AS mean_ctrl_cents,
         CAST(sum((nt + nc) * (st // nt - sc // nc)) // sum(nt + nc)
              AS BIGINT) AS effect_cents
  FROM g)
SELECT stratum, nt AS n_treat, nc AS n_ctrl, mean_treat_cents,
       mean_ctrl_cents, effect_cents
FROM per
UNION ALL
SELECT stratum, nt, nc, mean_treat_cents, mean_ctrl_cents, effect_cents
FROM allr
ORDER BY stratum
"""


@query("stratified_ate_gcomputation", oracle=_ATE_ORACLE)
def stratified_ate_gcomputation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average-treatment-effect estimation by g-computation /
    standardization: a deterministic hash assigns every user to a
    treatment arm, event value (cents) is the outcome, event_type is
    the confounding stratum; per stratum the treated-vs-control mean
    difference, and a final ``_all`` row whose effect is the
    stratum-size-weighted average of the per-stratum effects — the
    backdoor-adjusted ATE, which differs from the naive pooled
    difference whenever arm mix varies by stratum. Every mean is a
    numerator-first integer division (engines cannot drift), the
    aggregation is one groupBy over bounded strata, and the weighted
    fold runs over the bounded stratum table."""
    ev = Catalog(spark, sf_dir).events
    base = ev.select(
        F.col("event_type").alias("stratum"),
        (
            (F.lit(ATE_A) * F.col("user_id") + ATE_B) % CMS_P % 2
        ).alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = (
        base.groupBy("stratum")
        .agg(
            F.sum(F.when(F.col("t") == 1, 1).otherwise(0))
            .cast("long")
            .alias("nt"),
            F.sum(F.when(F.col("t") == 0, 1).otherwise(0))
            .cast("long")
            .alias("nc"),
            F.sum(F.when(F.col("t") == 1, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("st"),
            F.sum(F.when(F.col("t") == 0, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("sc"),
        )
        .where((F.col("nt") > 0) & (F.col("nc") > 0))
        # r13 subtree-sweep fix: the per-stratum rows and the pooled
        # _all row both re-ran the stratum aggregate from parquet.
        # Stratum-bounded — checkpoint once.
        .localCheckpoint()
    )
    per = g.select(
        "stratum",
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_ctrl"),
        F.expr("cast(st div nt as bigint)").alias("mean_treat_cents"),
        F.expr("cast(sc div nc as bigint)").alias("mean_ctrl_cents"),
        F.expr("cast(st div nt - sc div nc as bigint)").alias(
            "effect_cents"
        ),
    )
    allr = g.agg(
        F.sum("nt").cast("long").alias("nt"),
        F.sum("nc").cast("long").alias("nc"),
        F.expr("cast(sum(st) div sum(nt) as bigint)").alias(
            "mean_treat_cents"
        ),
        F.expr("cast(sum(sc) div sum(nc) as bigint)").alias(
            "mean_ctrl_cents"
        ),
        F.expr(
            "cast(sum((nt + nc) * (st div nt - sc div nc))"
            " div sum(nt + nc) as bigint)"
        ).alias("effect_cents"),
    ).select(
        F.lit("_all").alias("stratum"),
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_ctrl"),
        "mean_treat_cents",
        "mean_ctrl_cents",
        "effect_cents",
    )
    return per.unionByName(allr).orderBy("stratum")


# --------------------------------------------------------------------
# Kaplan-Meier survival / hazard table
# --------------------------------------------------------------------

#: conversion event: first purchase of at least $200 (20000 cents).
#: ~20-25%% of users convert at every scale; the rest are censored at
#: corpus end — a real censoring mix, so the n_censored column is
#: non-vacuous.
KM_CENTS = 20000

_KM_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS fd,
         CAST(min(CASE WHEN event_type = 'purchase'
                        AND CAST(round(value * 100) AS BIGINT)
                            >= {KM_CENTS}
                       THEN CAST(ts AS TIMESTAMP) END) AS DATE) AS pd
  FROM events GROUP BY user_id),
cut AS (
  SELECT CAST(max(CAST(ts AS TIMESTAMP)) AS DATE) AS mx FROM events),
lif AS (
  SELECT CASE WHEN pd IS NOT NULL THEN date_diff('day', fd, pd)
              ELSE date_diff('day', fd, cut.mx) END AS t,
         CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS dead
  FROM u CROSS JOIN cut),
g AS (
  SELECT t, CAST(sum(dead) AS BIGINT) AS d,
         CAST(sum(1 - dead) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS n
  FROM lif GROUP BY t),
km AS (
  SELECT t, d, c,
         CAST(sum(n) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS n_risk
  FROM g)
SELECT CAST(t AS BIGINT) AS t_days, n_risk, d AS d_events,
       c AS n_censored,
       CAST(d * 1000 // n_risk AS BIGINT) AS hazard_permille
FROM km ORDER BY t_days
"""


@query("km_survival_hazard", oracle=_KM_ORACLE)
def km_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier-style survival table for time-to-first-$200-
    purchase: per duration day t, the at-risk count (users whose
    observed duration ≥ t — the reverse-cumulative of the duration
    histogram), conversions (deaths), right-censored users (never
    converted before corpus end), and the discrete hazard d·1000 div
    n_risk in exact permille. This is the censoring-aware conversion
    latency — a plain mean over converters only would be biased. One
    groupBy(user) pass builds durations; everything after runs on
    the bounded duration grid (≤ corpus span in days), including the
    reverse-cumulative window. Deaths and censored counts are both
    nonzero at every test scale."""
    ev = Catalog(spark, sf_dir).events
    u = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("fd"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (
                    F.round(F.col("value") * 100).cast("long")
                    >= KM_CENTS
                ),
                F.col("ts"),
            )
        )
        .cast("date")
        .alias("pd"),
    )
    cut = ev.agg(F.max(F.col("ts").cast("date")).alias("mx"))
    lif = u.crossJoin(F.broadcast(cut)).select(
        F.when(
            F.col("pd").isNotNull(), F.datediff("pd", "fd")
        )
        .otherwise(F.datediff("mx", "fd"))
        .alias("t"),
        F.when(F.col("pd").isNotNull(), 1).otherwise(0).alias("dead"),
    )
    g = lif.groupBy("t").agg(
        F.sum("dead").cast("long").alias("d"),
        F.sum(1 - F.col("dead")).cast("long").alias("c"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    w = (
        Window.orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        g.select(
            F.col("t").cast("long").alias("t_days"),
            F.sum("n").over(w).cast("long").alias("n_risk"),
            F.col("d").alias("d_events"),
            F.col("c").alias("n_censored"),
            F.expr("cast(d * 1000 div (sum(n) over (order by t desc"
                   " rows unbounded preceding)) as bigint)").alias(
                "hazard_permille"
            ),
        )
        .orderBy("t_days")
    )


#: split key: even orderkeys calibrate, odd ones test; target level
#: 90% (permille).
CONF_LEVEL_PERMILLE = 900

_CONF_ORACLE = f"""
WITH s AS (
  SELECT o_orderkey % 2 AS arm, o_orderpriority AS p,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders),
model AS (
  SELECT p, CAST(sum(c) // count(*) AS BIGINT) AS mu
  FROM s WHERE arm = 0 GROUP BY p),
cal AS (
  SELECT abs(s.c - model.mu) AS r
  FROM s JOIN model ON s.p = model.p WHERE s.arm = 0),
nq AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cal,
         CAST(ceil({CONF_LEVEL_PERMILLE} / 1000.0 * (count(*) + 1))
              AS BIGINT) AS k
  FROM cal),
qhat AS (
  SELECT nq.n_cal, nq.k,
         (SELECT CAST(max(r) AS BIGINT)
          FROM (SELECT r FROM cal ORDER BY r LIMIT (SELECT k FROM nq))
         ) AS q_hat
  FROM nq),
test AS (
  SELECT abs(s.c - model.mu) AS r
  FROM s JOIN model ON s.p = model.p WHERE s.arm = 1)
SELECT qhat.n_cal,
       CAST((SELECT count(*) FROM test) AS BIGINT) AS n_test,
       qhat.q_hat AS q_hat_cents,
       CAST((SELECT sum(CASE WHEN r <= qhat.q_hat THEN 1 ELSE 0 END)
             FROM test) * 1000
            // (SELECT count(*) FROM test) AS BIGINT)
           AS coverage_permille
FROM qhat
"""


@query("conformal_prediction_interval", oracle=_CONF_ORACLE)
def conformal_prediction_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction: the even-key half calibrates (its
    per-priority integer-mean model and absolute residuals), q̂ is
    the ⌈0.9·(n_cal+1)⌉-th smallest calibration residual — computed
    with a k-row TakeOrdered probe + max, never a global sort — and
    the odd-key half reports empirical coverage of μ ± q̂ in exact
    permille. Conformal's finite-sample theorem guarantees coverage
    ≥ 900‰ regardless of how bad the mean model is, which the test
    suite asserts; the driver gate pins every intermediate (n, k,
    q̂, coverage) to the digit. Model and q̂ are broadcast scalars;
    the residual passes are plain scans."""
    o = Catalog(spark, sf_dir).orders
    # r12 scan-count fix: the model, calibration, q-hat probe and
    # test branches each re-scanned orders (6 measured); the narrow
    # (arm, priority, cents) projection is materialized once —
    # DISK_ONLY persist, not localCheckpoint, because it is
    # orders-ROW-sized (materialize.py discipline)
    s = persist_fact_rows(
        o.select(
            (F.col("o_orderkey") % 2).alias("arm"),
            F.col("o_orderpriority").alias("p"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("c"),
        )
    )
    # r13 subtree-sweep fix: the model is broadcast into BOTH the
    # calibration and test branches, each re-running the per-priority
    # aggregate over the persisted projection. Five rows — checkpoint.
    model = (
        s.where(F.col("arm") == 0)
        .groupBy("p")
        .agg(F.expr("cast(sum(c) div count(1) as bigint)").alias("mu"))
        .localCheckpoint()
    )
    cal = (
        s.where(F.col("arm") == 0)
        .join(F.broadcast(model), "p")
        .select(F.abs(F.col("c") - F.col("mu")).alias("r"))
    )
    nq = cal.agg(
        F.count(F.lit(1)).cast("long").alias("n_cal"),
        F.expr(
            f"cast(ceil({CONF_LEVEL_PERMILLE} / 1000.0 * (count(1) + 1))"
            " as bigint)"
        ).alias("k"),
    )
    k = nq.collect()[0].k  # scalar rank — the kmeans-codebook collect
    q_hat = (
        cal.orderBy("r")
        .limit(int(k))
        .agg(F.max("r").cast("long").alias("q_hat"))
    )
    test = (
        s.where(F.col("arm") == 1)
        .join(F.broadcast(model), "p")
        .select(F.abs(F.col("c") - F.col("mu")).alias("r"))
    )
    cov = (
        test.crossJoin(F.broadcast(q_hat))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.expr(
                "cast(sum(case when r <= q_hat then 1 else 0 end)"
                " * 1000 div count(1) as bigint)"
            ).alias("coverage_permille"),
            F.max("q_hat").cast("long").alias("q_hat_cents"),
        )
    )
    return (
        nq.select("n_cal")
        .crossJoin(F.broadcast(cov))
        .select("n_cal", "n_test", "q_hat_cents", "coverage_permille")
    )


#: outcome sample bound (the KLL discipline: per-arm sorted lists
#: stay small at every test scale) and the probed quantile grid.
QTE_MOD = 7
QTE_TAUS = (250, 500, 750)


def _qte_pick(tau: int) -> str:
    # sorted element at floor((n-1) * tau / 1000), 1-based list index
    return f"CAST(floor((n - 1) * {tau} / 1000.0) AS INT) + 1"


_QTE_ORACLE = f"""
WITH s AS (
  SELECT (({ATE_A} * user_id + {ATE_B}) % {CMS_P}) % 2 AS t,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
  WHERE event_type = 'purchase' AND event_id % {QTE_MOD} = 0),
g AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n, list_sort(list(c)) AS vs
  FROM s GROUP BY t),
q AS (
  SELECT tau,
         max(CASE WHEN t = 1 THEN q_v END) AS q_treat,
         max(CASE WHEN t = 0 THEN q_v END) AS q_ctrl
  FROM (
    SELECT t, 250 AS tau, vs[{_qte_pick(250)}] AS q_v FROM g
    UNION ALL
    SELECT t, 500, vs[{_qte_pick(500)}] FROM g
    UNION ALL
    SELECT t, 750, vs[{_qte_pick(750)}] FROM g)
  GROUP BY tau)
SELECT CAST(tau AS BIGINT) AS tau_permille,
       CAST(q_treat AS BIGINT) AS q_treat_cents,
       CAST(q_ctrl AS BIGINT) AS q_ctrl_cents,
       CAST(q_treat - q_ctrl AS BIGINT) AS qte_cents
FROM q ORDER BY tau_permille
"""


@query("quantile_treatment_effect", oracle=_QTE_ORACLE)
def quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile treatment effects at the quartiles: the same
    deterministic hash assignment as stratified_ate_gcomputation,
    but comparing the ARMS' OUTCOME QUANTILES — the distributional
    view an average effect hides (a treatment that stretches the
    upper tail and squeezes the lower can have ATE ≈ 0 and large
    QTE). Each quantile is the sorted element at floor((n−1)·τ) of a
    mod-bounded purchase sample (two arms × bounded list — the
    documented sorted-list regime; at production scale swap in the
    KLL sketch or exact_ntile). Exact integer cents end to end."""
    ev = Catalog(spark, sf_dir).events
    s = ev.where(
        (F.col("event_type") == "purchase")
        & (F.col("event_id") % QTE_MOD == 0)
    ).select(
        ((F.lit(ATE_A) * F.col("user_id") + ATE_B) % CMS_P % 2).alias(
            "t"
        ),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    # r12 scan-count fix: each quantile's select re-ran the sample
    # collect from parquet (3 scans measured); the 2-row arm table is
    # checkpointed once
    g = (
        s.groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sort_array(F.collect_list("c")).alias("vs"),
        )
        .localCheckpoint()
    )
    rows = []
    for tau in QTE_TAUS:
        rows.append(
            g.select(
                F.lit(tau).cast("long").alias("tau_permille"),
                "t",
                F.expr(
                    f"vs[cast(floor((n - 1) * {tau} / 1000.0) as int)]"
                ).alias("q_v"),
            )
        )
    u = rows[0].unionByName(rows[1]).unionByName(rows[2])
    piv = u.groupBy("tau_permille").agg(
        F.max(F.when(F.col("t") == 1, F.col("q_v")))
        .cast("long")
        .alias("q_treat_cents"),
        F.max(F.when(F.col("t") == 0, F.col("q_v")))
        .cast("long")
        .alias("q_ctrl_cents"),
    )
    return piv.select(
        "tau_permille",
        "q_treat_cents",
        "q_ctrl_cents",
        (F.col("q_treat_cents") - F.col("q_ctrl_cents"))
        .cast("long")
        .alias("qte_cents"),
    ).orderBy("tau_permille")


# --------------------------------------------------------------------
# association rules (confidence / lift)
# --------------------------------------------------------------------

#: same basket-size guard as item_cooccurrence_support: users outside
#: [2, 200] distinct purchased items are excluded whole (a 10k-item
#: basket would contribute 50M pairs on its own). Support floor of 3
#: keeps the smoke scale non-vacuous (max pair support at sf0.001 is
#: 3) while still pruning the singleton-pair noise tier at the gate
#: scale (sf0.01: 2011 of 4479 pairs survive).
RULES_MIN_SUPPORT = 3

_RULES_ORACLE = f"""
WITH it AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'purchase'),
keep AS (
  SELECT user_id FROM it GROUP BY user_id
  HAVING count(*) BETWEEN 2 AND 200),
basket AS (SELECT it.user_id, it.item FROM it
           JOIN keep USING (user_id)),
n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
      FROM basket),
isup AS (SELECT item, CAST(count(*) AS BIGINT) AS sup
         FROM basket GROUP BY item),
psup AS (
  SELECT a.item AS i1, b.item AS i2,
         CAST(count(*) AS BIGINT) AS sup_ab
  FROM basket a JOIN basket b
    ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING count(*) >= {RULES_MIN_SUPPORT})
SELECT i1, i2, sup_ab,
       s1.sup AS sup_i1, s2.sup AS sup_i2,
       CAST(sup_ab * 1000 // s1.sup AS BIGINT) AS conf_permille,
       CAST(sup_ab * n.n * 1000 // (s1.sup * s2.sup) AS BIGINT)
           AS lift_milli
FROM psup
JOIN isup s1 ON psup.i1 = s1.item
JOIN isup s2 ON psup.i2 = s2.item
CROSS JOIN n
ORDER BY lift_milli DESC, i1, i2
"""


@query("association_rules_lift", oracle=_RULES_ORACLE)
def association_rules_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Association-rule mining metrics on purchase baskets —
    confidence(i1→i2) and lift as exact integer permille/milli (a
    float sup/n ratio can straddle an ulp between engines; integer
    numerator-first division cannot). Builds on the same capped
    basket pair core as item_cooccurrence_support (basket size
    [2, 200], pairs keyed on user — never an item×item grid), then
    joins the pair support against the broadcast-size item-support
    table and the 1-row basket count. Int64 bound: the lift
    numerator sup_ab·N·1000 caps at N²·1000 — safe to ~10^7 baskets
    per the documented KS/tau bound family; scale the fold to
    decimal beyond."""
    ev = Catalog(spark, sf_dir).events
    # r12 scan-count fix: keep/basket/n/isup and both pair-join sides
    # each re-ran the JSON-extract scan (10 fact scans measured); the
    # distinct (user, item) table is checkpointed once.
    it = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.get_json_object("props", "$.k")
            .cast("long")
            .alias("item"),
        )
        .distinct()
        .localCheckpoint()
    )
    keep = (
        it.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .where(F.col("sz").between(2, 200))
        .select("user_id")
    )
    # r13 subtree-sweep fix: basket has four consumers (n, item
    # support, both pair-join sides) that each re-ran the size-filter
    # join off the checkpoint, and the item-support table fed both
    # broadcast sides. One checkpoint each: basket is bounded by the
    # distinct (user, item) table it filters, isup by the item
    # dimension.
    basket = it.join(keep, "user_id").localCheckpoint()
    n = basket.agg(
        F.countDistinct("user_id").cast("long").alias("n")
    )
    isup = (
        basket.groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("sup"))
        .localCheckpoint()
    )
    a = basket.alias("a")
    b = basket.alias("b")
    psup = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("i1"), F.col("b.item").alias("i2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("sup_ab"))
        .where(F.col("sup_ab") >= RULES_MIN_SUPPORT)
    )
    s1 = isup.select(
        F.col("item").alias("i1"), F.col("sup").alias("sup_i1")
    )
    s2 = isup.select(
        F.col("item").alias("i2"), F.col("sup").alias("sup_i2")
    )
    return (
        psup.join(F.broadcast(s1), "i1")
        .join(F.broadcast(s2), "i2")
        .crossJoin(F.broadcast(n))
        .select(
            "i1",
            "i2",
            "sup_ab",
            "sup_i1",
            "sup_i2",
            F.expr("sup_ab * 1000 div sup_i1")
            .cast("long")
            .alias("conf_permille"),
            F.expr("sup_ab * n * 1000 div (sup_i1 * sup_i2)")
            .cast("long")
            .alias("lift_milli"),
        )
        .orderBy(F.desc("lift_milli"), "i1", "i2")
    )


# Minimum pair support. 5 is deliberately scale-aware: at the sf0.01
# correctness gate the pair-support distribution tops out below 10
# (357 pairs at >= 5, zero at >= 10), so a higher floor would make the
# oracle verify the empty set and prove nothing about the pair core.
# tests/test_nonvacuous.py asserts non-empty output at gate scale.
COOCCURRENCE_MIN_SUPPORT = 5


@query(
    "item_cooccurrence_support",
    oracle=f"""
    WITH it AS (
      SELECT DISTINCT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      FROM events WHERE event_type = 'purchase'),
    keep AS (
      SELECT user_id FROM it GROUP BY user_id
      HAVING count(*) BETWEEN 2 AND 200),
    basket AS (SELECT it.user_id, it.item FROM it
               JOIN keep USING (user_id))
    SELECT a.item AS i1, b.item AS i2, count(*) AS support
    FROM basket a JOIN basket b
      ON a.user_id = b.user_id AND a.item < b.item
    GROUP BY a.item, b.item
    HAVING count(*) >= {COOCCURRENCE_MIN_SUPPORT}
    ORDER BY i1, i2
    """,
)
def item_cooccurrence_support(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Market-basket co-occurrence (the first stage of every
    association-rule / item-item recommender): items bought together
    by the same user, with minimum support. Items come from the
    event payload (props.k). Pair generation reuses the bounded
    sorted-postings core (operators/jaccard.py): per-user baskets are collected
    SORTED with the spillable pre-collect size filter (2 ≤ basket ≤
    200 — a bot account with thousands of items would otherwise
    contribute quadratically), then pairs emit via posexplode+slice
    — no basket self-join, one scan. The oracle computes the naive
    self-join form with the identical basket cap, so parity proves
    the postings rewrite exact. Support/thresholds are integers."""
    from hdsp_hive_release_src_spark.operators.jaccard import (
        bounded_sorted_postings,
    )

    ev = Catalog(spark, sf_dir).events
    it = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .distinct()
    )
    baskets = bounded_sorted_postings(
        it, ["user_id"], F.col("item"), min_df=2, max_df=200
    )
    pairs = (
        baskets.select(F.posexplode("ds").alias("i", "i1"), "ds")
        .select(
            "i1",
            F.explode(
                F.slice("ds", F.col("i") + 2, F.size("ds"))
            ).alias("i2"),
        )
        .groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= COOCCURRENCE_MIN_SUPPORT)
        .orderBy("i1", "i2")
    )
    return pairs

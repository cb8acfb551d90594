"""Distributed exact global rank / ntile without a single-partition
window.

``ntile(k) OVER (ORDER BY ...)`` with no PARTITION BY moves EVERY row
into one window partition — the classic scale-killer (WindowExec's
single-task sort of the whole table). But ntile only needs each row's
exact global rank and the total row count, and the global rank
decomposes: split the data into value ranges that respect the sort
order, rank locally within each range (bounded partitions), then add
per-range offsets computed from exact range counts.

Shape (3 jobs, all fully parallel):
  1. approx_percentile sketch → ``n_ranges`` boundary values collected
     to the driver (ONE row — the kmeans-codebook pattern; legitimate
     at any scale). Boundary precision only affects partition BALANCE,
     never result values.
  2. range_id = #boundaries strictly below (asc) / above (desc) the
     row's value — a pure map-side expression over literal boundaries,
     deterministic across jobs, monotone along the sort order (ties in
     the value share a range_id, so every range is contiguous in the
     global order). Exact per-range counts (≤ n_ranges rows) collected
     → cumulative offsets.
  3. row_number over Window.partitionBy(range_id) + literal offset map
     = exact global rank; ntile bucket from (rank, n) driver-side
     arithmetic replicating SQL ntile semantics (first n mod k buckets
     one row larger).

vs the naive global window: 3 parallel scans instead of 1 scan + a
single-machine sort of the full table. At 100 TB the naive form does
not complete; this form's critical path is one bounded-partition sort.

Null handling (r6: the caveat is now a guarantee): NULL values get
their own dedicated range — before every value range ascending
(Spark ``asc`` = NULLS FIRST), after every range descending
(``desc`` = NULLS LAST) — so the global order matches the window
ntile's exactly, nulls included; within the null range the tiebreak
columns order as usual. Remaining caveat: a single value occupying
>1/n_ranges of the table makes one range fat (the partitions are
still spillable — correctness holds, balance degrades; raise
n_ranges or pre-dedup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.operators.materialize import materialize_input


def with_global_rank(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    descending: bool = False,
    n_ranges: int = 32,
    rank_col: str = "rank",
) -> tuple[DataFrame, int]:
    """Return (df + exact 1-based global rank column, total row
    count) for the order (value_col [DESC], *tiebreak_cols ASC).
    row_number semantics: every row gets a UNIQUE rank, ties in
    value_col resolved by the tiebreak columns (RANK/DENSE_RANK
    shared-rank semantics are NOT provided).

    The ranked frame is returned lazily over the input
    materialization, which lives to the query boundary
    (operators/materialize.py): the consumer's action reads the same
    materialization the build collects read — single executed scan,
    counts/offsets and output rows consistent even for a
    nondeterministic input lineage. An action after the boundary
    recomputes a fact-tier input from lineage, where a
    nondeterministic input can disagree with the build's offsets."""
    # r13 subtree-audit fix: the operator consumes its input THREE
    # times (the percentile collect, the per-range count collect, the
    # ranked output), and chained calls compound — three exact_ntile
    # calls over one base frame executed its scan 14x at runtime
    # (rfm_segmentation, measured). One materialization makes every
    # probe a read. r14: the tier is derived from the input's plan,
    # not trusted — reduced (aggregate-rooted) frames localCheckpoint,
    # fact-row projections (histogram_equi_depth, trimmed_mean) get
    # DISK_ONLY persist so lineage survives executor loss.
    df = materialize_input(df)
    fracs = [i / n_ranges for i in range(1, n_ranges)]
    brow = df.agg(
        F.percentile_approx(
            value_col, F.array(*[F.lit(x) for x in fracs]), 10000
        ).alias("bs")
    ).collect()
    bounds = [float(b) for b in (brow[0].bs or [])]
    arr = F.array(*[F.lit(b) for b in bounds]) if bounds else F.array()
    v = F.col(value_col).cast("double")
    # Nulls get a dedicated range matching Spark's null ordering:
    # asc → NULLS FIRST (range -1, before every boundary range),
    # desc → NULLS LAST (range n_ranges, after every boundary range).
    # percentile_approx already ignores nulls, so boundaries are
    # computed over non-null values either way.
    if descending:
        rid_expr: Column = F.when(
            v.isNull(), F.lit(n_ranges)
        ).otherwise(F.size(F.filter(arr, lambda b: b > v)))
        order = [F.desc(value_col)] + [F.asc(c) for c in tiebreak_cols]
    else:
        rid_expr = F.when(v.isNull(), F.lit(-1)).otherwise(
            F.size(F.filter(arr, lambda b: b < v))
        )
        order = [F.asc(value_col)] + [F.asc(c) for c in tiebreak_cols]
    withrid = df.withColumn("__rid", rid_expr)
    counts = {
        r["__rid"]: r["cnt"]
        for r in withrid.groupBy("__rid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    total = sum(counts.values())
    offsets, acc = {}, 0
    for rid in sorted(counts):
        offsets[rid] = acc
        acc += counts[rid]
    off_map = F.create_map(
        *[F.lit(x) for rid in offsets for x in (rid, offsets[rid])]
    )
    w = Window.partitionBy("__rid").orderBy(*order)
    ranked = withrid.withColumn(
        rank_col,
        (
            F.row_number().over(w)
            + F.element_at(off_map, F.col("__rid"))
        ).cast("long"),
    ).drop("__rid")
    return ranked, total


def _ntile_bucket(total: int, n_buckets: int) -> Column:
    """SQL ntile bucket from the __rank column (first ``total mod
    n_buckets`` buckets carry one extra row)."""
    q, r = divmod(total, n_buckets)
    rank = F.col("__rank")
    if q == 0:
        return rank
    head = (q + 1) * r  # first r buckets carry q+1 rows each
    return F.when(rank <= head, F.ceil(rank / (q + 1))).otherwise(
        r + F.ceil((rank - head) / q)
    )


def exact_ntile(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    n_buckets: int,
    descending: bool = False,
    n_ranges: int = 32,
    bucket_col: str = "bucket",
) -> DataFrame:
    """df + ``bucket_col`` holding exact SQL ``ntile(n_buckets) OVER
    (ORDER BY value [DESC], tiebreaks)`` — without the global window."""
    ranked, total = with_global_rank(
        df, value_col, tiebreak_cols, descending, n_ranges, "__rank"
    )
    return ranked.withColumn(
        bucket_col, _ntile_bucket(total, n_buckets).cast("long")
    ).drop("__rank")


def range_prefix_sum(
    df: DataFrame,
    order_col: str,
    tiebreak_cols: list[str],
    sum_cols: list[str],
    n_ranges: int = 32,
    prefix: str = "cum_",
) -> DataFrame:
    """df + INCLUSIVE prefix sums of each ``sum_cols`` column in the
    total ascending order (``order_col`` asc, ``tiebreak_cols`` asc) —
    the two-pass range-partitioned cumulative sum that replaces
    ``sum(x) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` (a
    single-partition window) at cluster scale.

    Same 3-job shape as with_global_rank: approx-percentile range
    split (boundary precision affects BALANCE only), exact per-range
    partial sums (≤ n_ranges rows collected — the kmeans-codebook
    pattern), then a bounded within-range cumulative window plus the
    literal per-range offsets. NULL order values get a dedicated
    first range (Spark asc = NULLS FIRST), matching the global
    window's order exactly. The (order_col, *tiebreak_cols) key
    should be a total order — with ties left unbroken the within-tie
    cumulative order is nondeterministic, exactly as in the SQL
    window it replaces."""
    # same input-materialization discipline as with_global_rank: the
    # boundary collect, the partial-sum collect and the output each
    # consume df; tier chosen from the plan (reduced → localCheckpoint,
    # fact rows → DISK_ONLY persist), released at the query boundary.
    df = materialize_input(df)
    fracs = [i / n_ranges for i in range(1, n_ranges)]
    brow = df.agg(
        F.percentile_approx(
            order_col, F.array(*[F.lit(x) for x in fracs]), 10000
        ).alias("bs")
    ).collect()
    bounds = [float(b) for b in (brow[0].bs or [])]
    arr = F.array(*[F.lit(b) for b in bounds]) if bounds else F.array()
    v = F.col(order_col).cast("double")
    rid_expr = F.when(v.isNull(), F.lit(-1)).otherwise(
        F.size(F.filter(arr, lambda b: b < v))
    )
    withrid = df.withColumn("__rid", rid_expr)
    partials = (
        withrid.groupBy("__rid")
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .collect()
    )
    # per-range exclusive offsets, one accumulator per summed column
    offsets: dict[str, dict[int, object]] = {c: {} for c in sum_cols}
    acc = {c: 0 for c in sum_cols}
    for row in sorted(partials, key=lambda r: r["__rid"]):
        for c in sum_cols:
            offsets[c][row["__rid"]] = acc[c]
            acc[c] += row[c] or 0
    order = [F.asc(order_col)] + [F.asc(c) for c in tiebreak_cols]
    w = (
        Window.partitionBy("__rid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = withrid
    for c in sum_cols:
        off_map = F.create_map(
            *[
                F.lit(x)
                for rid in offsets[c]
                for x in (rid, offsets[c][rid])
            ]
        )
        out = out.withColumn(
            prefix + c,
            F.sum(c).over(w) + F.element_at(off_map, F.col("__rid")),
        )
    return out.drop("__rid")

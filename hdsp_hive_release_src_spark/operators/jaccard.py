"""The shared shingle/Jaccard pair core.

Word-3-gram shingles are grouped once into bounded, sorted postings
per shingle; ordered candidate pairs come from a positional slice of
each postings array, never from a cross join. Jaccard, containment
and overlap are ratios over the resulting (d1, d2, n1, n2, inter)
counts, so one pair generator serves every set-similarity query.
``DUCK_SHINGLES`` and ``DUCK_SH_CAPPED`` are the DuckDB twins the
oracles compose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.functions.hashing import word_shingles


def parallel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents arrives as one parquet file → one input split; CPU-bound
    per-row pipelines (shingling, hashing) must fan out across cores
    first. On a many-file 100 TB table this repartition is a no-op
    decision, locally it is the difference between 1 and 32 tasks."""
    d = Catalog(spark, sf_dir).documents
    return d.repartition(spark.sparkContext.defaultParallelism)


# DuckDB fragment: distinct word-3-gram shingles of documents.text
DUCK_SHINGLES = """
    sh AS (
      SELECT DISTINCT doc_id, unnest(grams) AS g FROM (
        SELECT doc_id,
               CASE WHEN len(ws) < 3 THEN []
                    ELSE list_transform(range(1, len(ws) - 1),
                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
               END AS grams
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""


# Document-frequency cap on shingles: a shingle shared by more than
# MAX_SHINGLE_DF documents contributes O(df^2) candidate pairs to the
# inverted-index self-join — one viral boilerplate line would explode
# the join quadratically at corpus scale. Dropping ultra-common
# shingles from the INDEX (not from the per-doc size n) bounds the
# fan-out; pairs that only share boilerplate are below any useful
# Jaccard threshold anyway. The cap is far above this corpus's max df,
# so the test-scale result stays exact, and the oracle applies the
# SAME cap so parity holds by construction at any scale.
MAX_SHINGLE_DF = 1000


# The near-duplicate Jaccard threshold. The engine's size prefilter
# (``min_jaccard``), its output filter and the oracle all read this one
# value: a one-sided edit would let the prefilter drop pairs above a
# lowered output threshold.
JACCARD_THRESHOLD = 0.5

# CTE mirroring the cap oracle-side; compose after DUCK_SHINGLES.
DUCK_SH_CAPPED = f"""
    shc AS (
      SELECT sh.doc_id, sh.g FROM sh
      JOIN (SELECT g FROM sh GROUP BY g
            HAVING count(*) <= {MAX_SHINGLE_DF}) keep USING (g)
    )
"""


def bounded_sorted_postings(
    exploded: DataFrame,
    keys: list[str],
    payload,
    min_df: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Group ``exploded`` (one row per (key, member)) into a SORTED
    postings array per key, with the group-size filter applied BEFORE
    collect_list ever materializes a hot group.

    The pre-filter is a count over ``Window.partitionBy(keys)``:
    WindowExec buffers each key group in a spillable
    ExternalAppendOnlyUnsafeRowArray, so a viral key (df far past
    ``max_df``) spills to disk and is then FILTERED — it never reaches
    the aggregation buffer. A plain ``collect_list → size() filter``
    would materialize the full postings array for the viral key in one
    in-memory agg buffer first (Spark cannot push a size() predicate
    below the agg). Plan shape: one exchange on ``keys`` shared by the
    window and the aggregation (the agg's required distribution is
    satisfied by the window's), sorted input, no join, no extra scan —
    same cost class as the unguarded agg plus one in-partition sort."""
    wf = Window.partitionBy(*keys)
    size_ok = F.col("__df") >= min_df
    if max_df is not None:
        size_ok = size_ok & (F.col("__df") <= max_df)
    return (
        exploded.withColumn("__df", F.count(F.lit(1)).over(wf))
        .where(size_ok)
        .drop("__df")
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(payload)).alias("ds"))
    )


def shingle_pair_counts(
    d: DataFrame,
    max_shingle_df: int = 1000,
    min_jaccard: float | None = None,
) -> DataFrame:
    """The shared pair-generation core: inverted shingle index →
    ordered candidate pairs with (d1, d2, n1, n2, inter). Jaccard,
    containment, and overlap coefficients are all ratios over these
    four numbers — one pair-generation implementation serves every
    set-similarity measure (see jaccard_pairs_from_docs for the full
    algorithm/scale notes).

    r17 (guide §2.3, "shuffle fewer bytes"): the pair aggregation is
    the most expensive single stage in the engine (the Σ df²
    candidate stream is ~12.7M incidences → 11.3M nearly-all-singleton
    groups at the 10× replica), so its shuffle row is kept minimal —
    the group key is (d1, d2) ONLY, and the per-doc sizes ride as
    ``max()`` aggregates instead of group keys (n is functionally
    dependent on the doc id: every incidence of d1 carries the same
    n1, so ``max`` recovers it exactly and the hash-agg keys halve
    from 4 longs to 2).

    ``min_jaccard`` (r17, opt-in): callers whose downstream filter is
    ``jaccard >= t`` can pass ``t`` to drop candidate incidences whose
    SIZES alone already rule the pair out: J = i/(n1+n2-i) with
    i ≤ min(n1,n2) gives J ≤ min/max, so any pair with
    min(n1,n2) < t·max(n1,n2) is strictly below t and every one of
    its incidences can be dropped BEFORE the aggregation (all
    incidences of a pair share (n1,n2), so its ``inter`` is either
    exact or the whole pair is gone — never undercounted). At t=0.5
    this cuts the replica's aggregation input 12.7M → 9.7M (~24%).
    Exact-safe ONLY for the Jaccard coefficient at threshold ≥ t;
    containment/overlap callers and sub-threshold sweeps must leave
    it None."""
    sh = d.select("doc_id", word_shingles("text").alias("sh"))
    sized = sh.select(
        "doc_id",
        F.size("sh").alias("n"),
        F.explode(F.expr("transform(sh, g -> xxhash64(g))")).alias("g"),
    )
    postings = bounded_sorted_postings(
        sized,
        ["g"],
        F.struct("doc_id", "n"),
        min_df=2,
        max_df=max_shingle_df,
    )
    emitted = postings.select(
        F.posexplode("ds").alias("i", "a"), "ds"
    ).select(
        "a",
        F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias(
            "b"
        ),
    )
    if min_jaccard is not None:
        # keep iff min >= t*max (doubles are exact here: n is a small
        # int and t=0.5 is a power of two; boundary pairs with
        # min == t*max are KEPT, only strictly-impossible ones drop)
        emitted = emitted.where(
            F.least(F.col("a.n"), F.col("b.n"))
            >= F.lit(float(min_jaccard))
            * F.greatest(F.col("a.n"), F.col("b.n"))
        )
    return (
        emitted.groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("a.n").alias("n1"),
            F.max("b.n").alias("n2"),
        )
        .select("d1", "d2", "n1", "n2", "inter")
    )


def jaccard_pairs_from_docs(
    d: DataFrame,
    max_shingle_df: int = 1000,
    sort_output: bool = True,
) -> DataFrame:
    """Shared-shingle inverted index → candidate pairs → exact Jaccard.

    Shuffle keys: shingle (index build), then (d1, d2) (pair agg) —
    never a cross join. The index key is xxhash64(shingle), not the
    string: 8-byte fixed shuffle keys instead of ~20-byte varstrings
    (~40% faster here; at 100 TB the shuffle-byte saving dominates).
    A 64-bit collision would need ~2^32 distinct shingles in one
    corpus to matter (birthday bound) — and even then only perturbs
    one intersection count by 1.

    Hot-shingle guard: postings lists longer than ``max_shingle_df``
    are dropped whole. Without this, one viral shingle contributes
    df^2 candidate pairs and the pair generation explodes
    quadratically at corpus scale. Per-doc sizes n are computed
    BEFORE the cap so the Jaccard denominator stays exact.

    Shape: instead of a g-keyed self-join (which scans the exploded
    index twice and needs a third pass to count df), group the index
    ONCE per shingle into a SORTED postings array — the df-cap is then
    just a size() filter on the array — and emit ordered pairs with
    posexplode + a positional slice of the suffix. One scan of the
    corpus, the same two shuffles the self-join needed anyway (g, then
    pair agg), zero extra passes, and no per-element lambda in the
    pair loop. Measured at 50k docs (10× sf0.1, local[32]): 2.5 s vs
    6.1 s for the join+broadcast-anti shape; on a clone-saturated
    worst case (every doc has 9 near-identical clones, 250k true
    pairs) 30 s vs 55 s — the slice variant wins in BOTH the sparse
    and the pair-dense regime, where a filter-lambda variant
    (`filter(ds, x -> x.doc_id > a.doc_id)`) degraded 3× on dense
    postings from per-element predicate evaluation.

    The df cap is enforced BEFORE collect_list by
    ``bounded_sorted_postings``'s spillable window count (a post-agg
    ``size()`` filter would materialize a viral shingle's full
    postings array in one in-memory agg buffer first), so per-group
    agg memory really is ≤ max_shingle_df structs at any corpus size.

    r17 (guide §2.3): passes ``min_jaccard=JACCARD_THRESHOLD`` so the
    size filter (min(n1,n2) ≥ 0.5·max — a necessary condition for
    J ≥ 0.5, see shingle_pair_counts) drops ~24% of candidate
    incidences before the pair aggregation, and the aggregation
    itself groups on (d1, d2) alone. Interleaved A/B at the 10×
    replica (noop sink, 4 reps): 2.68/3.47 s best/worst →
    2.30/3.20 s, output byte-identical (2560 pairs).
    """
    pairs = shingle_pair_counts(
        d, max_shingle_df, min_jaccard=JACCARD_THRESHOLD
    )
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    out = pairs.where(jac >= JACCARD_THRESHOLD).select(
        "d1", "d2", F.round(jac, 6).alias("jaccard")
    )
    # sort_output=False is the order-insensitive-consumer form (see
    # jaccard_pair_edges): same rows, no output range exchange
    return out.orderBy("d1", "d2") if sort_output else out


def jaccard_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSORTED Jaccard ≥ 0.5 near-dup pairs (d1, d2, jaccard) — the
    form for order-insensitive consumers. r17 (guide §2.4: "an
    orderBy used only to make output deterministic" is an accidental
    exchange): dedup_components / dedup_keep_best feed the pair set
    into a checkpoint, and quality_filter_pipeline into a distinct —
    none of them needs the declared output order, yet all were
    materializing the range-exchange + global sort that only the
    pair-listing query's contract requires."""
    return jaccard_pairs_from_docs(
        parallel_docs(spark, sf_dir),
        max_shingle_df=MAX_SHINGLE_DF,
        sort_output=False,
    )


# Band-bucket size cap for the LSH/SimHash pair generators. A band
# hash bucket only grows past ~corpus/2^16 (uniform band-hash entropy)
# when it holds a genuine near-duplicate mega-cluster — which exact
# dedup upstream should have collapsed first. Capped buckets lose no
# pairs unless a cluster saturates EVERY band, the regime where
# pairwise near-dup is the wrong tool anyway (dedup_components /
# dedup_exact handle it in O(n)). Far above any bucket in this corpus,
# so test-scale results are exact.
MAX_BAND_BUCKET = 2000

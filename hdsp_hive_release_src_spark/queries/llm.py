"""SURVEY.md §2.4 — LLM-training-data pipeline operators, first-class.

Dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity
search (brute-force + LSH ANN), text analysis (quality, lang-ID, token
counts, fingerprints), multimodal binary-column plumbing.

Scale shapes (SURVEY.md §4): pairwise operators NEVER cross-join the
corpus — candidates come from an inverted index (shared shingle), LSH
band buckets, or hyperplane buckets, then are verified with exact
measures. The only intentional cross join is the small-bounded exact
cosine oracle twin (`embedding_cosine_pairs`) whose scale path is
`ann_lsh_topk`.

Float determinism: all vector math casts float32→double *before*
multiplying and folds sums sequentially (functions/vectors.py); ratios
are int/int; every emitted float is rounded and thresholds sit in
measured gaps of the data's similarity distribution (0.07 < gap < 0.9
for Jaccard; cosine max ≈ 0.55 with τ = 0.45 applied to the rounded
value) so an ulp of divergence cannot flip row membership.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdsp_hive_release_src_spark.catalog import Catalog
from hdsp_hive_release_src_spark.functions.hashing import (
    band_hashes_sql,
    minhash_sql,
    word_shingles,
    word_shingles_sql,
)
from hdsp_hive_release_src_spark.functions.text import (
    LANG_STOPWORDS,
    sql_in_list,
    stopword_hits,
)
from hdsp_hive_release_src_spark.functions.vectors import (
    dot,
    l2_norm,
    to_double,
)
from hdsp_hive_release_src_spark.registry import query

B = F.broadcast


def _parallel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents arrives as one parquet file → one input split; CPU-bound
    per-row pipelines (shingling, hashing) must fan out across cores
    first. On a many-file 100 TB table this repartition is a no-op
    decision, locally it is the difference between 1 and 32 tasks."""
    d = Catalog(spark, sf_dir).documents
    return d.repartition(spark.sparkContext.defaultParallelism)

# DuckDB fragment: distinct word-3-gram shingles of documents.text
_DUCK_SHINGLES = """
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

# CTE mirroring the cap oracle-side; compose after _DUCK_SHINGLES.
_DUCK_SH_CAPPED = f"""
    shc AS (
      SELECT sh.doc_id, sh.g FROM sh
      JOIN (SELECT g FROM sh GROUP BY g
            HAVING count(*) <= {MAX_SHINGLE_DF}) keep USING (g)
    )
"""

_JACCARD_PAIRS_SQL = f"""
    WITH {_DUCK_SHINGLES},
    {_DUCK_SH_CAPPED},
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM shc a JOIN shc b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT d1, d2,
           round(inter * 1.0 / (s1.n + s2.n - inter), 6) AS jaccard
    FROM pairs JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
    WHERE inter * 1.0 / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}
    ORDER BY d1, d2
"""


# ------------------------------------------------------------ dedup family

@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY keeper_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest, keep min doc_id.
    One shuffle on the digest; at 100 TB this is the cheapest possible
    exact dedup (no sort, partial agg combines map-side)."""
    d = Catalog(spark, sf_dir).documents
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_id")
    )


def _jaccard_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSORTED Jaccard ≥ 0.5 near-dup pairs (d1, d2, jaccard) — the
    form for order-insensitive consumers. r17 (guide §2.4: "an
    orderBy used only to make output deterministic" is an accidental
    exchange): dedup_components / dedup_keep_best feed the pair set
    into a checkpoint, and quality_filter_pipeline into a distinct —
    none of them needs the declared output order, yet all were
    materializing the range-exchange + global sort that only the
    pair-listing query's contract requires."""
    return jaccard_pairs_from_docs(
        _parallel_docs(spark, sf_dir),
        max_shingle_df=MAX_SHINGLE_DF,
        sort_output=False,
    )


def _jaccard_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard ≥ 0.5 near-dup pairs over the documents table, in the
    declared (d1, d2) output order — see ``jaccard_pairs_from_docs``
    for the algorithm and scale notes."""
    return _jaccard_pair_edges(spark, sf_dir).orderBy("d1", "d2")


# Band-bucket size cap for the LSH/SimHash pair generators. A band
# hash bucket only grows past ~corpus/2^16 (uniform band-hash entropy)
# when it holds a genuine near-duplicate mega-cluster — which exact
# dedup upstream should have collapsed first. Capped buckets lose no
# pairs unless a cluster saturates EVERY band, the regime where
# pairwise near-dup is the wrong tool anyway (dedup_components /
# dedup_exact handle it in O(n)). Far above any bucket in this corpus,
# so test-scale results are exact.
MAX_BAND_BUCKET = 2000


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
    # _jaccard_pair_edges): same rows, no output range exchange
    return out.orderBy("d1", "d2") if sort_output else out


@query("dedup_ngram_jaccard", oracle=_JACCARD_PAIRS_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with word-3-gram Jaccard ≥ 0.5 (exact measure,
    inverted-index candidates)."""
    return _jaccard_pairs_exact(spark, sf_dir)


def lsh_banded(d: DataFrame) -> DataFrame:
    """(doc_id, band, bh) band-bucket membership for the MinHash LSH
    pair generator: shingles -> 64-hash signature -> 16×4 band hashes
    composed as ONE nested-bound expression (each stage evaluated
    exactly once per row). Exposed for the cap-headroom observability
    test (tests/test_band_cap_headroom.py): bucket occupancy vs
    MAX_BAND_BUCKET is measured on the same frame the query groups."""
    bands_expr = band_hashes_sql(
        minhash_sql(word_shingles_sql("text"), 64), bands=16, rows=4
    )
    return d.select(
        "doc_id",
        F.posexplode(F.expr(bands_expr)).alias("band", "bh"),
    )


@query("dedup_minhash_lsh", oracle=_JACCARD_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16×4 banded LSH candidates, exact-Jaccard verified.

    Same oracle as the exact query: at τ=0.5 with the data's minimum
    true-pair similarity ≈0.9, per-pair miss probability is
    (1-0.9⁴)¹⁶ ≈ 3e-8 — the LSH path is expected to reproduce the
    exact result while scanning candidate buckets only. This is the
    100 TB near-dup path: cost is O(docs × bands), not O(pairs).
    """
    d = _parallel_docs(spark, sf_dir)
    sh = d.select("doc_id", word_shingles("text").alias("sh")).where(
        F.size("sh") > 0
    )
    banded = lsh_banded(d)
    # sorted bucket postings + posexplode/slice instead of a band
    # self-join: the join would run the 64-hash signature pipeline once
    # per side (same rework as jaccard/simhash pair generation). The
    # MAX_BAND_BUCKET cap is applied pre-collect via the spillable
    # window count — one hot bucket can never blow an agg buffer (see
    # the cap's comment for why capped buckets lose no pairs).
    postings = bounded_sorted_postings(
        banded,
        ["band", "bh"],
        F.col("doc_id"),
        min_df=2,
        max_df=MAX_BAND_BUCKET,
    )
    cand = (
        postings.select(F.posexplode("ds").alias("i", "d1"), "ds")
        .select(
            "d1",
            F.explode(
                F.slice("ds", F.col("i") + 2, F.size("ds"))
            ).alias("d2"),
        )
        .distinct()
    )
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    verified = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("inter", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn(
            "jac",
            F.col("inter")
            / (F.size("sh1") + F.size("sh2") - F.col("inter")),
        )
        .where(F.col("jac") >= JACCARD_THRESHOLD)
    )
    return verified.select(
        "d1", "d2", F.round("jac", 6).alias("jaccard")
    ).orderBy("d1", "d2")


def _simhash_oracle_sql() -> str:
    """SimHash bits come from md5 nibbles (not xxhash64) precisely so
    both engines can compute the identical bit pattern — full oracle.
    A production deployment would swap md5 for xxhash64 (cheaper); the
    plan shape is unchanged."""
    nibs = ", ".join(
        f"strpos('0123456789abcdef', substr(md5(t), {k + 1}, 1)) - 1"
        f" AS n{k}"
        for k in range(16)
    )
    votes = ", ".join(
        f"sum(CASE WHEN ((n{i // 4} >> {i % 4}) & 1) = 1"
        f" THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    simhash = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN "
        + (f"{1 << i}" if i < 63 else f"{-(1 << 63)}")
        + " ELSE 0 END)"
        for i in range(64)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS band,"
        f" (simhash >> {16 * j}) & 65535 AS bh FROM sim"
        for j in range(4)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    nib AS (SELECT doc_id, {nibs} FROM tok WHERE t <> ''),
    votes AS (SELECT doc_id, {votes} FROM nib GROUP BY doc_id),
    sim AS (SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash
            FROM votes),
    banded AS ({bands}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                 AS hamming
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
    SELECT d1, d2, hamming FROM pairs WHERE hamming <= 8
    ORDER BY d1, d2
    """


def simhash_banded(d: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, bh) band-bucket membership for the
    SimHash pair generator (4×16-bit bands over the 64-bit signature).
    Exposed for the cap-headroom observability test alongside
    ``lsh_banded`` — see MAX_BAND_BUCKET's comment."""
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).where(F.col("t") != "")
    # md5 behind a projection boundary: the 16 nibble extractions must
    # read ONE digest, not recompute the hash per nibble
    hashed = tok.select("doc_id", F.md5("t").alias("h"))
    nib = hashed.select(
        "doc_id",
        *[
            F.expr(
                f"instr('0123456789abcdef', substr(h, {k + 1}, 1)) - 1"
            ).alias(f"n{k}")
            for k in range(16)
        ],
    )
    bit_sums = nib.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"((n{i // 4} >> {i % 4}) & 1)") == 1, 1
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sim = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") * (1 << i)
                       if i < 63 else F.lit(-(1 << 63)).cast("long"))
                .otherwise(0)
                for i in range(64)
            ]
        ).alias("simhash"),
    )
    banded = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.expr(f"(simhash >> {16 * j}) & 65535").alias("bh"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bh")
    return banded


@query("dedup_simhash", oracle=_simhash_oracle_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs (hamming ≤ 8), banded 4×16 bits.

    Bit votes aggregate in one pass over exploded tokens (64 CASE
    sums); pairs come from band buckets and are verified with exact
    bit_count(xor) — scale cost O(docs) + O(bucket pairs). Token bits
    are md5 nibbles so the oracle reproduces them exactly (xxhash64 is
    the cheaper production swap-in)."""
    banded = simhash_banded(_parallel_docs(spark, sf_dir))
    # sorted postings per (band, bucket) + posexplode/slice — the band
    # self-join would execute the whole 64-aggregate simhash pipeline
    # once PER SIDE; grouping once halves the dominant cost, and the
    # positional slice avoids per-element lambda evaluation in dense
    # buckets (same shape as jaccard_pairs_from_docs). Bucket size
    # capped pre-collect (spillable window count, MAX_BAND_BUCKET).
    postings = bounded_sorted_postings(
        banded,
        ["band", "bh"],
        F.struct("doc_id", "simhash"),
        min_df=2,
        max_df=MAX_BAND_BUCKET,
    )
    pairs = (
        postings.select(F.posexplode("ds").alias("i", "a"), "ds")
        .select(
            "a",
            F.explode(
                F.slice("ds", F.col("i") + 2, F.size("ds"))
            ).alias("b"),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 8)
    )
    return pairs.orderBy("d1", "d2")


# ----------------------------------------------------- similarity search

_DUCK_COSINE = """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e)
"""


@query(
    "embedding_cosine_pairs",
    oracle=f"""
    WITH {_DUCK_COSINE}
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           round(list_sum(list_transform(range(1, 65),
                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_sum(list_transform(range(1, 65),
          i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.45
    ORDER BY v1, v2
    """,
)
def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine ≥ 0.45 near-dup pairs — intentionally the
    exact O(n²) baseline (oracle-matched).

    Why no LSH here: at τ=0.45 random-hyperplane banding cannot prune.
    A near-threshold pair collides per 4-plane band with
    (1 - acos(0.45)/π)^4 ≈ 0.18, so ~48 bands are needed for 1e-4
    recall loss — but at 48 bands an UNRELATED pair (cos≈0, per-band
    0.5^4) still collides with 1-(1-0.0625)^48 ≈ 0.95, i.e. nearly
    every pair becomes a candidate and the "pruned" join degenerates
    to the cross join plus banding overhead. Hyperplane LSH only pays
    above τ≈0.7. The production scale path at this τ is
    `semantic_dedup` (llm7.py — SemDeDup cluster blocking, multi-probe
    IVF cells); this query is the exhaustive test-scale twin that
    verifies it and measures its recall gap."""
    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    n = e.select("vec_id", "v", l2_norm(F.col("v")).alias("nrm"))
    a, b = n.alias("a"), n.alias("b")
    # norms come from the per-ROW projection — the per-pair work is one
    # dot-product fold, not dot + two norm folds (3× per-pair cost on
    # the O(n²) hot loop; same sequential fold order, so the rounded
    # value and oracle parity are unchanged)
    cos = F.round(
        dot(F.col("a.v"), F.col("b.v"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= 0.45)
        .orderBy("v1", "v2")
    )


@query(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH {_DUCK_COSINE},
    q AS (SELECT * FROM n WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cos
      FROM q JOIN n c ON q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, cos,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= 10
    ORDER BY query_id, rank
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors (vec_id < 5):
    broadcast the queries, scan the corpus once, per-query top-K via
    window on the rounded score (ties broken by id — deterministic
    across engines)."""
    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    n = e.select("vec_id", "v", l2_norm(F.col("v")).alias("nrm"))
    q = n.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        n.join(B(q), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                (
                    F.aggregate(
                        F.zip_with(
                            F.col("qv"), F.col("v"), lambda x, y: x * y
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
                / (F.col("qn") * F.col("nrm")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


def _hyperplanes(n_planes: int = 4, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5 —
    reproducible across sessions without RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()
            row.append(int(h[:8], 16) / float(0xFFFFFFFF) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _lsh_oracle_sql() -> str:
    """The LSH planes are md5-derived constants — inline them as SQL
    literals so DuckDB reproduces the exact bucket assignment (full
    oracle, not rows-only)."""
    planes = _hyperplanes()
    dots = [
        f"""(CASE WHEN list_sum(list_transform(range(1, 65),
             i -> v[i] * ([{", ".join(repr(c) for c in plane)}])[i])) > 0
             THEN {1 << p} ELSE 0 END)"""
        for p, plane in enumerate(planes)
    ]
    bucket = " + ".join(dots)
    return f"""
    WITH {_DUCK_COSINE},
    b AS (SELECT vec_id, v, nrm, {bucket} AS bucket FROM n),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qb
          FROM b WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, b.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> q.qv[i] * b.v[i])) / (q.qn * b.nrm), 6) AS cos
      FROM q JOIN b ON b.bucket = q.qb AND b.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= 10
    ORDER BY query_id, rank
    """


@query("ann_lsh_topk", oracle=_lsh_oracle_sql())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: 4 sign bits → 16 buckets (sized so a
    500-vector corpus still yields ~30 bucket-mates per query); top-10
    per query within its bucket only. The 100 TB path: candidate set
    per query is |bucket|, not |corpus|; recall and bucket fan-out tune
    with plane count / multi-probe."""
    e = Catalog(spark, sf_dir).embeddings.select(
        "vec_id", to_double("embedding").alias("v")
    )
    n = e.select("vec_id", "v", l2_norm(F.col("v")).alias("nrm"))
    planes = _hyperplanes()
    bucket = sum(
        [
            F.when(
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        F.array(*[F.lit(c) for c in plane]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                F.lit(1 << p),
            ).otherwise(0)
            for p, plane in enumerate(planes)
        ]
    )
    nb = n.withColumn("bucket", bucket.cast("long"))
    q = nb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        nb.join(
            B(q),
            (F.col("qbucket") == F.col("bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("qn") * F.col("nrm")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


# -------------------------------------------------------- text analysis

_EN = LANG_STOPWORDS["en"]


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           round(len(list_distinct(ws)) * 1.0 / len(ws), 6) AS distinct_ratio,
           round(len(list_filter(ws, t -> t IN ({sql_in_list(_EN)})))
                 * 1.0 / len(ws), 6) AS stopword_ratio,
           round(0.4 * (len(list_distinct(ws)) * 1.0 / len(ws))
                 + 0.3 * least(len(ws) / 100.0, 1.0)
                 + 0.3 * (1.0 - len(list_filter(ws,
                       t -> t IN ({sql_in_list(_EN)}))) * 1.0 / len(ws)),
                 6) AS quality_score
    FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
    ORDER BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: lexical diversity, length saturation,
    stopword density — all codegen expressions, int/int ratios (bit-
    identical across engines)."""
    d = Catalog(spark, sf_dir).documents
    ws = F.split("text", " ")
    n_tok = F.size(ws)
    distinct_ratio = F.size(F.array_distinct(ws)) * F.lit(1.0) / n_tok
    stop_ratio = (
        F.expr(stopword_hits("split(text, ' ')", _EN)) * F.lit(1.0) / n_tok
    )
    score = (
        0.4 * distinct_ratio
        + 0.3 * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1.0 - stop_ratio)
    )
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    ).orderBy("doc_id")


def _langid_case_sql(hit_exprs: dict[str, str]) -> str:
    best = f"greatest({', '.join(hit_exprs.values())})"
    whens = " ".join(
        f"WHEN {expr} = {best} THEN '{lang}'"
        for lang, expr in hit_exprs.items()
    )
    return f"CASE WHEN {best} = 0 THEN 'und' {whens} END"


@query(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang,
           {_langid_case_sql({lang: f"len(list_filter(ws, t -> t IN ({sql_in_list(words)})))" for lang, words in LANG_STOPWORDS.items()})}
               AS lang_pred
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)
    ORDER BY doc_id
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit heuristic language ID (argmax over 5 mini
    inventories, priority-ordered ties, 'und' when no hits)."""
    d = Catalog(spark, sf_dir).documents
    hit_exprs = {
        lang: stopword_hits("split(text, ' ')", words)
        for lang, words in LANG_STOPWORDS.items()
    }
    return d.select(
        "doc_id",
        "lang",
        F.expr(_langid_case_sql(hit_exprs)).alias("lang_pred"),
    ).orderBy("doc_id")


@query(
    "token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
               AS re_tokens
    FROM documents ORDER BY doc_id
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    ([a-z0-9]+ runs)."""
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0))
        .cast("long")
        .alias("re_tokens"),
    ).orderBy("doc_id")


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(grams), '|')) AS fingerprint
    FROM (
      SELECT doc_id,
             CASE WHEN len(ws) < 3 THEN []
                  ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
             END AS grams
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
    ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical content fingerprint: md5 over the sorted distinct
    shingle set — stable under token reordering within shingle
    granularity (winnowing-style dedup key)."""
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.md5(
            F.concat_ws("|", F.array_sort(word_shingles("text")))
        ).alias("fingerprint"),
    ).orderBy("doc_id")


# ------------------------------------------------------ multimodal stub

@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(1, len(text) + 1),
                i -> ord(substring(text, i, 1)))) AS BIGINT) AS feat_sum
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: opaque binary payload + typed
    metadata, decoded feature-extraction via mapInPandas (Arrow
    batches).

    The payload here is the utf-8 encoding of `text` (the container has
    no image/audio libs — TESTDATA has no media column); the decode
    step is a deterministic stand-in (exact byte-sum 'feature' — an
    integer, so the oracle can replay it byte-for-byte via ord()) with
    the REAL structure: binary column in Arrow batches → per-batch
    vectorized numpy → typed feature columns out. Swapping the stand-in
    for PIL/librosa decode changes only the inner function.
    """
    import pandas as pd

    d = Catalog(spark, sf_dir).documents
    with_payload = d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length("text").cast("long").alias("declared_bytes"),
        ).alias("meta"),
    )

    def decode_batches(batches):
        import numpy as np

        for pdf in batches:
            payloads = pdf["payload"]
            feat_sum = payloads.map(
                lambda b: int(
                    np.frombuffer(b, dtype=np.uint8).sum(dtype=np.int64)
                )
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["meta"].map(lambda m: m["mime"]),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "feat_sum": feat_sum.astype("int64"),
                }
            )

    out_schema = "doc_id long, mime string, n_bytes long, feat_sum long"
    return with_payload.mapInPandas(decode_batches, out_schema).orderBy(
        "doc_id"
    )

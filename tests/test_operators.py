"""Unit tests for composable operators + function library (§2.3/§2.4),
including regressions for the PySpark lambda-aliasing pitfall."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_asof_join_matches_pandas_merge_asof(spark):
    from hdsp_hive_release_src_spark.operators.asof import asof_join

    left = pd.DataFrame(
        {"k": [1, 1, 1, 2, 2], "t": [5, 10, 15, 3, 9], "lv": list("abcde")}
    )
    right = pd.DataFrame(
        {"k": [1, 1, 2, 3], "rt": [4, 10, 50, 1], "rv": [100, 200, 300, 400]}
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            left_on="t",
            right_on="rt",
            by_left="k",
            by_right="k",
            value_cols=["rv"],
        )
        .orderBy("k", "t")
        .toPandas()
    )
    expected = pd.merge_asof(
        left.sort_values("t"),
        right.sort_values("rt"),
        left_on="t",
        right_on="rt",
        left_by="k",
        right_by="k",
        direction="backward",
    ).sort_values(["k", "t"])
    assert list(got["rv_right"].fillna(-1)) == list(
        expected["rv"].fillna(-1)
    )


def test_sessionize_gap_boundaries(spark):
    from hdsp_hive_release_src_spark.operators.sessionize import sessionize

    rows = [
        (1, "2024-01-01 00:00:00", 1),
        (1, "2024-01-01 00:29:59", 2),  # < 30min gap: same session
        (1, "2024-01-01 01:00:00", 3),  # 30:01 gap: new session
        (2, "2024-01-01 00:00:00", 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts_s string, event_id int"
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    got = {
        r.event_id: r.session_id
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_minhash_slots_are_distinct(spark):
    """Regression: python-lambda transform collapsed all seeds into one
    expression — every signature slot was identical."""
    from hdsp_hive_release_src_spark.functions.hashing import (
        minhash_signature,
    )

    df = spark.createDataFrame([(["aa", "bb", "cc", "dd"],)], "sh array<string>")
    sig = df.select(minhash_signature("sh", 16).alias("sig")).collect()[0].sig
    assert len(set(sig)) > 8, f"degenerate signature: {sig}"


def test_minhash_agreement_tracks_jaccard(spark):
    from hdsp_hive_release_src_spark.functions.hashing import (
        minhash_signature,
    )

    a = [f"s{i}" for i in range(40)]
    b = a[:36] + ["x1", "x2", "x3", "x4"]  # jaccard = 36/44 ≈ 0.82
    df = spark.createDataFrame([(1, a), (2, b)], "id int, sh array<string>")
    sigs = {
        r.id: r.sig
        for r in df.select(
            "id", minhash_signature("sh", 64).alias("sig")
        ).collect()
    }
    agree = sum(x == y for x, y in zip(sigs[1], sigs[2])) / 64
    assert 0.6 < agree < 0.95, agree


def test_ann_lsh_buckets_are_diverse(spark):
    """Regression guard: hyperplane buckets must actually partition the
    corpus (not collapse to one value via expression aliasing)."""
    from hdsp_hive_release_src_spark.queries.vectors import _hyperplanes
    from hdsp_hive_release_src_spark.functions.vectors import to_double

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    v = e.select("vec_id", to_double("embedding").alias("v"))
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
    n_buckets = v.select(bucket.alias("b")).distinct().count()
    assert n_buckets >= 8, n_buckets


def test_cosine_self_similarity(spark):
    from hdsp_hive_release_src_spark.functions.vectors import (
        cosine_similarity,
        to_double,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    v = e.select(to_double("embedding").alias("v")).limit(5)
    got = v.select(
        F.round(cosine_similarity(F.col("v"), F.col("v")), 9).alias("c")
    ).collect()
    assert all(abs(r.c - 1.0) < 1e-9 for r in got)


def test_word_shingles_short_doc_guard(spark):
    from hdsp_hive_release_src_spark.functions.hashing import word_shingles

    df = spark.createDataFrame(
        [("a b",), ("a b c",), ("a b c d",)], "text string"
    )
    got = df.select(F.size(word_shingles("text")).alias("n")).collect()
    assert [r.n for r in got] == [0, 1, 2]


def test_jaccard_df_cap_drops_viral_shingles(spark):
    """Construct a corpus where every doc shares a 7-word boilerplate
    prefix (5 interior trigrams with df=30) plus 2 unique tail words.
    Uncapped, every pair crosses jaccard 5/9 >= 0.5 purely via the
    boilerplate; with the cap (20 < 30) the viral shingles leave the
    index and no pair survives — the quadratic blowup guard, actually
    exercised (the real corpus never trips it)."""
    from hdsp_hive_release_src_spark.operators.jaccard import (
        jaccard_pairs_from_docs,
    )

    common = "w1 w2 w3 w4 w5 w6 w7"
    rows = [(i, f"{common} u{i} v{i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = jaccard_pairs_from_docs(docs, max_shingle_df=20).collect()
    assert capped == []
    uncapped = jaccard_pairs_from_docs(
        docs, max_shingle_df=10**6
    ).collect()
    assert len(uncapped) == 30 * 29 // 2


def test_jaccard_pairs_empty_and_singleton_inputs(spark):
    """Degenerate corpora: no docs and one doc must both yield zero
    pairs (guards the postings-slice pair generation's boundary)."""
    from hdsp_hive_release_src_spark.operators.jaccard import (
        jaccard_pairs_from_docs,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert jaccard_pairs_from_docs(empty).count() == 0
    one = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    assert jaccard_pairs_from_docs(one).count() == 0
    twins = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")],
        "doc_id long, text string",
    )
    rows = jaccard_pairs_from_docs(twins).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in rows] == [(1, 2, 1.0)]


def test_bounded_postings_prefilters_before_collect(spark):
    """The group-size cap must act BEFORE collect_list (spillable
    window count), and the window + aggregation must share ONE hash
    exchange — the guard that a viral key can spill but never
    materialize in an agg buffer."""
    from hdsp_hive_release_src_spark.plans import explain_str
    from hdsp_hive_release_src_spark.operators.jaccard import (
        bounded_sorted_postings,
    )

    rows = (
        [(0, m) for m in range(3)]       # kept: df=3
        + [(1, m) for m in range(5)]     # dropped: df=5 > max_df=4
        + [(9, 0)]                       # dropped: df=1 < min_df=2
    )
    df = spark.createDataFrame(rows, "k long, m long")
    out = bounded_sorted_postings(
        df, ["k"], F.col("m"), min_df=2, max_df=4
    )
    plan = explain_str(out, "simple")
    assert "Window" in plan, plan
    assert "Join" not in plan, plan
    got = {r.k: list(r.ds) for r in out.collect()}
    assert got == {0: [0, 1, 2]}


def test_mv_resolver_picks_mv_and_falls_back(spark):
    """The rewrite must be automatic: a covered request routes to the
    registered MV (and rolls up correctly, avg included); a request
    grouping on a column outside the MV's grouping set falls back to
    the base table and still answers correctly."""
    from hdsp_hive_release_src_spark.operators.mv_rewrite import (
        GroupKey,
        Measure,
        MvDef,
        MvResolver,
    )

    base = spark.createDataFrame(
        [(g1, g2, v) for g1 in "ab" for g2 in range(3)
         for v in (1.0, 2.0, 4.0)],
        "g1 string, g2 long, v double",
    )
    spark.sql("DROP TABLE IF EXISTS mv_test_partials")
    base.groupBy("g1", "g2").agg(
        F.sum("v").alias("v_sum"), F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("v_n")
    ).write.mode("overwrite").saveAsTable("mv_test_partials")
    r = MvResolver()
    r.register(MvDef("mv_test_partials", "base", ("g1", "g2"),
                     {"v": "v_sum"}, measure_counts={"v": "v_n"}))
    keys = [GroupKey("g1", "g1")]
    ms = [Measure("total", "sum", "v"), Measure("n", "count"),
          Measure("mean", "avg", "v")]
    out, used = r.answer(spark, base, "base", keys, ms,
                         {"v": F.col("v")})
    assert used == "mv_test_partials"
    got = {x.g1: (x.total, x.n, round(x.mean, 6))
           for x in out.collect()}
    assert got == {"a": (21.0, 9, round(21 / 9, 6)),
                   "b": (21.0, 9, round(21 / 9, 6))}
    # non-covered: group key outside MV grouping set -> base fallback
    out2, used2 = r.answer(
        spark, base, "base",
        [GroupKey("v_key", "v")], [Measure("n", "count")],
        {"v": F.col("v")},
    )
    assert used2 is None
    assert {x.v_key: x.n for x in out2.collect()} == {
        1.0: 6, 2.0: 6, 4.0: 6
    }
    spark.sql("DROP TABLE IF EXISTS mv_test_partials")


def test_mv_resolver_avg_requires_measure_counts(spark):
    """An MV without stored non-null measure counts must NOT cover an
    avg request (SUM(sum)/SUM(n_rows) diverges under measure NULLs) —
    the resolver falls back to the base table, whose F.avg excludes
    NULLs and stays correct."""
    from hdsp_hive_release_src_spark.operators.mv_rewrite import (
        GroupKey,
        Measure,
        MvDef,
        MvResolver,
    )

    base = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", 5.0)],
        "g1 string, v double",
    )
    spark.sql("DROP TABLE IF EXISTS mv_nulls_partials")
    base.groupBy("g1").agg(
        F.sum("v").alias("v_sum"), F.count(F.lit(1)).alias("n_rows")
    ).write.mode("overwrite").saveAsTable("mv_nulls_partials")
    r = MvResolver()
    r.register(
        MvDef("mv_nulls_partials", "base", ("g1",), {"v": "v_sum"})
    )
    out, used = r.answer(
        spark, base, "base",
        [GroupKey("g1", "g1")], [Measure("mean", "avg", "v")],
        {"v": F.col("v")},
    )
    assert used is None  # avg not derivable without measure counts
    got = {x.g1: round(x.mean, 6) for x in out.collect()}
    assert got == {"a": 2.0, "b": 5.0}  # NULL excluded, not zero
    # sum/count requests ARE still covered by the same MV
    out2, used2 = r.answer(
        spark, base, "base",
        [GroupKey("g1", "g1")],
        [Measure("total", "sum", "v"), Measure("n", "count")],
        {"v": F.col("v")},
    )
    assert used2 == "mv_nulls_partials"
    assert {x.g1: (x.total, x.n) for x in out2.collect()} == {
        "a": (4.0, 3), "b": (5.0, 1)
    }
    spark.sql("DROP TABLE IF EXISTS mv_nulls_partials")


def test_jaccard_size_filter_is_exact_at_the_threshold(spark):
    """r17: the min_jaccard size filter (min(n1,n2) >= t*max) must be
    invisible in the output — it may only drop pairs that can never
    reach J >= 0.5. Three constructed regimes:

    * boundary KEPT: two docs with n1=6, n2=12 trigram sets sharing
      exactly 6 shingles -> J = 6/(6+12-6) = 0.5, sizes exactly at
      2*min == max — the filter must keep it (strictly-less drops
      only);
    * disparate DROPPED-but-irrelevant: n2 > 2*n1 pairs share
      shingles but J < 0.5 by size math alone — absent from BOTH the
      filtered output and a brute-force model;
    * the whole output equals an independent brute-force Jaccard over
      the same shingle sets (filter on/off paths converge)."""
    from hdsp_hive_release_src_spark.operators.jaccard import (
        jaccard_pairs_from_docs,
        shingle_pair_counts,
    )

    # doc 1: 8 words -> 6 trigrams; doc 2: doc 1's words + 6 more
    # words -> 12 trigrams, sharing exactly doc 1's 6 (the seam
    # trigrams differ because the continuation starts new words)
    d1 = "a b c d e f g h"
    d2 = d1 + " p q r s t u"
    # doc 3 shares d1's prefix but is >2x d1's size -> size math
    # alone puts J below 0.5 whatever the overlap
    d3 = d1 + " p q r s t u v w x y z aa bb cc"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    rows = jaccard_pairs_from_docs(docs).collect()
    got = {(r.d1, r.d2): r.jaccard for r in rows}
    # brute-force model (plain python, no Spark)
    def shingles(t):
        ws = t.split()
        return {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        }
    expect = {}
    texts = {1: d1, 2: d2, 3: d3}
    for a in texts:
        for b in texts:
            if a >= b:
                continue
            sa, sb = shingles(texts[a]), shingles(texts[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.5:
                expect[(a, b)] = round(j, 6)
    assert got == expect
    # the boundary pair (1,2) is exactly J=0.5 at 2*min==max: present
    assert got.get((1, 2)) == 0.5
    # n1/n2 recovery through max(): equals true shingle-set sizes
    prs = {
        (r.d1, r.d2): (r.n1, r.n2)
        for r in shingle_pair_counts(docs, 1000).collect()
    }
    assert prs[(1, 2)] == (6, 12)

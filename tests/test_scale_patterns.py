"""Scale-pattern correctness + plan shape: salted joins, bucketed
co-located joins, broadcast thresholds (SURVEY.md §4)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_salted_join_matches_plain_join(spark):
    from hdsp_hive_release_src_spark.operators.skew import salted_join

    # skewed left: one hot key with 5k rows, 100 cold keys
    left = spark.range(5000).select(
        F.lit(7).alias("k"), F.col("id").alias("lv")
    ).unionByName(
        spark.range(100).select(
            (F.col("id") + 100).alias("k"), F.col("id").alias("lv")
        )
    )
    right = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("rv")
    )
    plain = left.join(right, "k").select("k", "lv", "rv")
    salted = salted_join(left, right, "k", n_salts=8, salt_src="lv")
    assert sorted(map(tuple, salted.select("k", "lv", "rv").collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_spreads_hot_key(spark):
    from hdsp_hive_release_src_spark.operators.skew import salted_join

    left = spark.range(1000).select(
        F.lit(1).alias("k"), F.col("id").alias("lv")
    )
    right = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("rv"))
    out = salted_join(left, right, "k", n_salts=8, salt_src="lv")
    # the hot key's rows must hash across >1 salt bucket pre-join
    n_salts_used = (
        left.withColumn("__salt", F.pmod(F.hash(F.col("lv")), F.lit(8)))
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts_used == 8
    assert out.count() == 1000


def test_bucketed_join_avoids_exchange(spark, tmp_path_factory):
    """bucketBy + saveAsTable co-locates both sides: the join plan must
    contain no Exchange (shuffle) — the 100 TB repeated-join pattern."""
    from hdsp_hive_release_src_spark.plans import explain_str

    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        # DROP alone can't clear a leftover location after a metastore reset
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    (
        orders.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
    )
    (
        li.withColumnRenamed("l_orderkey", "o_orderkey")
        .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
    )
    j = (
        spark.table("b_orders")
        .hint("merge")  # force SMJ so the exchange question is real
        .join(spark.table("b_lineitem"), "o_orderkey")
    )
    plan = explain_str(j, "simple")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert j.count() > 0


def test_gapfill_grid_is_broadcast(spark):
    """The day×type grid must broadcast — the fact table must never
    shuffle for the zero-fill join."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["gapfill_daily"](spark, "/root/testdata/sf0.001")
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_q16_exclusion_is_broadcast_anti(spark):
    """The NOT IN supplier exclusion must compile to a broadcast anti
    join, not a shuffled one."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["q16_supplier_count"](
        spark, "/root/testdata/sf0.001"
    )
    plan = explain_str(df, "simple")
    anti_lines = [
        ln for ln in plan.splitlines() if "LeftAnti" in ln
    ]
    assert anti_lines and all(
        "BroadcastHashJoin" in ln for ln in anti_lines
    ), plan


def test_ivf_codebook_is_broadcast(spark):
    """IVF assignment joins the corpus against the (tiny) codebook —
    both the assign and probe joins must broadcast the centroids."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["ann_ivf_topk"](spark, "/root/testdata/sf0.001")
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_no_forced_broadcast_on_fact_scale_dims():
    """customer and part scale with the fact tables at 100 TB: the TPC-H
    queries must NOT carry an explicit broadcast hint on them (Catalyst
    may still choose broadcast at tiny SF from stats — that's fine; the
    bug is only the forced hint overriding autoBroadcastJoinThreshold).
    Asserted on hint absence in the query source, not on join type."""
    import inspect

    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    for name in (
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_items",
        "q14_promo_effect",
        "q18_large_volume_customer",
        "q19_discount_revenue",
    ):
        src = inspect.getsource(registry.QUERIES[name])
        for forbidden in ("B(cat.customer", "B(cust", "B(cat.part", "B(part"):
            assert forbidden not in src, (name, forbidden)


def test_decontaminate_eval_set_is_broadcast_semi(spark):
    """The eval gram set must broadcast into a left_semi — the training
    corpus must never shuffle for the contamination check."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["decontaminate_ngrams"](
        spark, "/root/testdata/sf0.001"
    )
    plan = explain_str(df, "simple")
    semi_lines = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi_lines and all(
        "BroadcastHashJoin" in ln for ln in semi_lines
    ), plan


def test_kmeans_assignment_is_join_free(spark):
    """The literal-codebook argmin must be map-only: no Join node and
    no per-row window in the final assignment plan (the only exchanges
    belong to the output aggregation)."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["kmeans_clusters"](
        spark, "/root/testdata/sf0.001"
    )
    plan = explain_str(df, "simple")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_jaccard_pair_generation_is_join_free(spark):
    """The capped inverted index groups postings per shingle and emits
    candidate pairs with a nested explode — the plan must contain NO
    join node (the old self-join scanned the exploded index twice and
    needed a third pass for the df count) and exactly one scan of the
    documents table."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["dedup_ngram_jaccard"](
        spark, "/root/testdata/sf0.001"
    )
    plan = explain_str(df, "simple")
    assert "Join" not in plan, plan
    scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "documents" in ln
    ]
    assert len(scans) == 1, plan


def test_big_join_is_not_broadcast(spark):
    """lineitem must never be the broadcast side of a fact-fact join."""
    from hdsp_hive_release_src_spark.plans import explain_str

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    j = li.join(orders.hint("shuffle_merge"), li.l_orderkey == orders.o_orderkey)
    plan = explain_str(j, "simple")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed on the join key: Spark must align buckets
    and skip the exchange entirely — the pay-once pre-partitioning
    pattern for repeated fact-fact joins."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["bucketed_colocated_join"](
        spark, "/root/testdata/sf0.001"
    )
    assert df.count() > 0
    li = spark.table("bk_lineitem")
    o = spark.table("bk_orders")
    # force SMJ: at test SF Catalyst would broadcast the tiny side,
    # which dodges the exchange question this test exists to ask (at
    # fact-fact scale SMJ is what the planner picks on its own)
    j = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
    plan = explain_str(j, "simple")
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_cache_table_serves_from_memory(spark):
    """CACHE TABLE must materialize: the cached relation appears as
    InMemoryRelation in the served query's plan."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["cache_table_reuse"](
        spark, "/root/testdata/sf0.001"
    )
    plan = explain_str(spark.table("cache_orders_agg"), "simple")
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan, plan
    assert df.count() == 3
    spark.sql("UNCACHE TABLE IF EXISTS cache_orders_agg")


def test_exact_ntile_has_no_global_window(spark):
    """window_ntile and histogram_equi_depth must never plan a
    no-partition WindowExec (single-task sort of the whole table);
    every Window node must carry a partition spec."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    for name in ("window_ntile", "histogram_equi_depth"):
        df = registry.QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = explain_str(df, "simple")
        # a no-partition window plans Exchange SinglePartition under
        # the WindowExec — that node must not exist anywhere
        assert "SinglePartition" not in plan, (name, plan)
        assert "Window" in plan, (name, plan)  # ranked path, partitioned


def test_rfm_segmentation_has_no_global_window(spark):
    """rfm_segmentation's three quartile assignments must run through
    the range-split exact_ntile (operators/ranking.py) — no
    partitionless WindowExec (a single-task sort of the entire user
    dimension at scale) anywhere in the plan."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["rfm_segmentation"](
        spark, "/root/testdata/sf0.001"
    )
    plan = explain_str(df, "simple")
    # the 1-row recency anchor legitimately plans a scalar
    # Exchange SinglePartition under its BroadcastExchange, so the
    # check is per-Window-node: a partitioned Window prints THREE
    # bracket groups ([functions], [partition spec], [order spec]);
    # a partitionless one prints two.
    window_lines = [
        ln for ln in plan.splitlines() if "Window [" in ln
    ]
    assert window_lines, plan  # ranked path must be windowed
    for ln in window_lines:
        assert ln.count("], [") >= 2, (ln, plan)


def test_exact_ntile_matches_sql_ntile(spark):
    """exact_ntile must replicate SQL ntile bit-for-bit, including the
    larger-buckets-first remainder rule and tie handling, on sizes that
    exercise n % k != 0 and duplicate values."""
    from pyspark.sql import Window as W

    from hdsp_hive_release_src_spark.operators.ranking import exact_ntile

    rows = [(i, float((i * 7) % 23)) for i in range(101)]  # dup values
    df = spark.createDataFrame(rows, "id long, v double")
    for k in (4, 10, 7):
        got = {
            r.id: r.bucket
            for r in exact_ntile(
                df, "v", ["id"], n_buckets=k, n_ranges=5
            ).collect()
        }
        w = W.orderBy(F.asc("v"), F.asc("id"))
        want = {
            r.id: r.nt
            for r in df.select(
                "id", F.ntile(k).over(w).cast("long").alias("nt")
            ).collect()
        }
        assert got == want, k
    # descending order too
    got = {
        r.id: r.bucket
        for r in exact_ntile(
            df, "v", ["id"], n_buckets=4, descending=True, n_ranges=5
        ).collect()
    }
    w = W.orderBy(F.desc("v"), F.asc("id"))
    want = {
        r.id: r.nt
        for r in df.select(
            "id", F.ntile(4).over(w).cast("long").alias("nt")
        ).collect()
    }
    assert got == want


def test_semantic_dedup_pair_join_is_blocked(spark):
    """The within-cell pair join must be an equi join on the cell id —
    never a cartesian/nested-loop over the corpus (the assignment's
    broadcast of the tiny codebook is the only allowed BNLJ)."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["semantic_dedup"](
        spark, "/root/testdata/sf0.001"
    )
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    pair_joins = [
        ln
        for ln in plan.splitlines()
        if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln
            or ("BroadcastHashJoin" in ln and "cid" in ln))
    ]
    assert pair_joins, plan


def test_semantic_dedup_pair_join_parallelism_is_pinned(spark):
    """r16: the pair join's input is tiny in bytes but quadratic in
    work (Σ cell² cosine pairs), so AQE's byte-based coalescing
    (minPartitionSize) merged the cid exchange to 1-2 tasks and the
    candidate stage ran nearly serial. The fix is an explicit
    cid-hash repartition sized to the core count (user-specified
    numPartitions, which AQE must respect) — this pins its presence
    on both self-join sides."""
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import explain_str

    registry.load_all()
    df = registry.QUERIES["semantic_dedup"](
        spark, "/root/testdata/sf0.001"
    )
    plan = explain_str(df, "formatted")
    pinned = [
        ln
        for ln in plan.splitlines()
        if "REPARTITION_BY_NUM" in ln and "hashpartitioning(cid" in ln
    ]
    assert len(pinned) >= 2, plan

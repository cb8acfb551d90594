"""The materialization-tier guard (r13 advice / r14 verdict item 4):
operators/ranking.py must not trust callers to pass reduced frames —
the tier is derived from the optimized logical plan. Fact-row-sized
inputs get DISK_ONLY persist (lineage retained — survives executor
loss at the 100 TB design point); reduced (aggregate-rooted) inputs
keep the cheap eager localCheckpoint. Both tiers, and every raw
localCheckpoint, live until the query boundary
(materialize.flush_pending_releases) and no longer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from hdsp_hive_release_src_spark.operators.materialize import (
    flush_pending_releases,
    is_reduced_rooted,
    materialize_input,
)
from tools.run_gates import retained_rdd_count


def _orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


class TestClassifier:
    def test_fact_projection_is_fact(self, spark, sf_dir):
        df = _orders(spark, sf_dir).select("o_totalprice", "o_orderkey")
        assert not is_reduced_rooted(df)

    def test_filtered_scan_is_fact(self, spark, sf_dir):
        # a filter bounds nothing provably — scan-rooted stays fact
        df = _orders(spark, sf_dir).where(F.col("o_orderkey") < 100)
        assert not is_reduced_rooted(df)

    def test_aggregate_is_reduced(self, spark, sf_dir):
        df = (
            _orders(spark, sf_dir)
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("s"))
        )
        assert is_reduced_rooted(df)

    def test_projection_over_aggregate_is_reduced(self, spark, sf_dir):
        df = (
            _orders(spark, sf_dir)
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("s"))
            .select("o_custkey", (F.col("s") * 2).alias("s2"))
            .where(F.col("s2") > 0)
        )
        assert is_reduced_rooted(df)

    def test_limit_is_reduced(self, spark, sf_dir):
        assert is_reduced_rooted(_orders(spark, sf_dir).limit(10))

    def test_registered_checkpoint_leaf_is_reduced(self, spark, sf_dir):
        # a checkpoint_reduced leaf is a VERIFIED prior reduced
        # materialization (r15: registered by RDD id at creation) —
        # chained operator calls (rfm's three exact_ntiles) must keep
        # the cheap tier
        from hdsp_hive_release_src_spark.operators.materialize import (
            checkpoint_reduced,
        )

        ck = checkpoint_reduced(
            _orders(spark, sf_dir)
            .groupBy("o_custkey")
            .agg(F.max("o_orderdate").alias("d"))
        )
        assert is_reduced_rooted(ck)
        anchor = ck.agg(F.max("d").alias("mx"))
        joined = ck.crossJoin(F.broadcast(anchor))
        assert is_reduced_rooted(joined)

    def test_unregistered_checkpoint_leaf_is_fact(self, spark, sf_dir):
        # r15 (r14 verdict item 4): a RAW localCheckpoint — even of a
        # genuinely reduced frame — is unverified and classifies FACT
        # on re-entry; only checkpoints the module itself created from
        # plan-proven reduced frames are admitted. Safe-tier cost only.
        ck = (
            _orders(spark, sf_dir)
            .groupBy("o_custkey")
            .agg(F.max("o_orderdate").alias("d"))
            .localCheckpoint()
        )
        assert not is_reduced_rooted(ck)

    def test_fact_checkpoint_refused_even_via_constructor(
        self, spark, sf_dir
    ):
        # the verdict's done-criterion: a fact-row localCheckpoint
        # introduced ANYWHERE must classify FACT on re-entry — even if
        # someone misroutes it through checkpoint_reduced, the proof
        # is re-derived, the registration refused, and downstream
        # materializations take the safe DISK_ONLY tier.
        from hdsp_hive_release_src_spark.operators.materialize import (
            checkpoint_reduced,
        )

        fact = _orders(spark, sf_dir).select(
            "o_orderkey", "o_totalprice"
        )
        ck = checkpoint_reduced(fact)  # misuse: fact-row frame
        assert not is_reduced_rooted(ck)
        df = materialize_input(ck.where(F.col("o_totalprice") > 0))
        # routed to DISK_ONLY persist, never a second localCheckpoint
        assert df.storageLevel == StorageLevel.DISK_ONLY
        flush_pending_releases()

    def test_join_with_fact_side_is_fact(self, spark, sf_dir):
        o = _orders(spark, sf_dir)
        agg = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
        assert not is_reduced_rooted(agg.join(o, "o_custkey"))

    def test_explode_is_fact(self, spark, sf_dir):
        # Generate multiplies rows — never reduced, even over an agg
        df = (
            _orders(spark, sf_dir)
            .groupBy("o_custkey")
            .agg(F.collect_list("o_orderkey").alias("ks"))
            .select("o_custkey", F.explode("ks").alias("k"))
        )
        assert not is_reduced_rooted(df)


class TestTierRouting:
    def test_fact_frame_gets_disk_only_not_checkpoint(
        self, spark, sf_dir
    ):
        # the verdict's done-criterion: a fact-row-sized frame must
        # come back DISK_ONLY-persisted with lineage retained, NOT
        # localCheckpointed (non-reliable storage, severed lineage)
        df = _orders(spark, sf_dir).select("o_totalprice", "o_orderkey")
        out = materialize_input(df)
        try:
            assert out.storageLevel == StorageLevel.DISK_ONLY
            # localCheckpoint rewrites the plan to an RDD-scan leaf;
            # a persist must keep the original lineage
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert "LogicalRDD" not in plan
        finally:
            flush_pending_releases()
        assert out.storageLevel == StorageLevel.NONE

    def test_reduced_frame_gets_checkpoint(self, spark, sf_dir):
        df = (
            _orders(spark, sf_dir)
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("s"))
        )
        out = materialize_input(df)
        assert out.count() > 0
        # localCheckpoint leaves no persistent storage level but
        # rewrites the plan to an RDD leaf
        assert out.storageLevel == StorageLevel.NONE
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan

    def test_registered_checkpoint_input_not_rematerialized(
        self, spark, sf_dir
    ):
        # r16 (r15 ADVICE): a frame whose root IS an already-registered
        # checkpoint leaf is already materialized — chained operator
        # calls (rfm's per_user feeding three exact_ntiles) must reuse
        # its blocks, not copy them with a fresh localCheckpoint per
        # call. Same-object return ⇒ same underlying RDD.
        from hdsp_hive_release_src_spark.operators.materialize import (
            checkpoint_reduced,
        )

        ck = checkpoint_reduced(
            _orders(spark, sf_dir)
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("s"))
        )
        assert materialize_input(ck) is ck
        assert ck.count() > 0
        # a DERIVED frame (projection on top) still re-materializes —
        # the fast path is root-leaf only
        assert materialize_input(ck.select("o_custkey")) is not ck

    def test_ranking_routes_fact_input_to_persist(self, spark, sf_dir):
        # fact input: persisted DISK_ONLY for the two build collects
        # and still live at return, so the consumer's first action
        # reads the build's materialization (single executed scan;
        # offsets and output rows from one snapshot); the query
        # boundary drops it
        from hdsp_hive_release_src_spark.operators.ranking import (
            with_global_rank,
        )

        flush_pending_releases()
        df = _orders(spark, sf_dir).select("o_totalprice", "o_orderkey")
        ranked, total = with_global_rank(
            df, "o_totalprice", ["o_orderkey"], rank_col="rnk"
        )
        assert total == df.count()
        plan = ranked._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan
        assert retained_rdd_count(spark) == 1
        assert ranked.count() == total
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert flush_pending_releases() == 1
        assert retained_rdd_count(spark) == 0
        # post-boundary reads recompute from DISK_ONLY's retained lineage
        assert ranked.count() == total

    def test_prefix_sum_releases_fact_cache(self, spark, sf_dir):
        # range_prefix_sum shares with_global_rank's lifecycle: the
        # fact-tier input persists for the two build collects, lives
        # through the consumer's action, and the boundary drops it
        from hdsp_hive_release_src_spark.operators.ranking import (
            range_prefix_sum,
        )

        flush_pending_releases()
        df = _orders(spark, sf_dir).select("o_totalprice", "o_orderkey")
        out = range_prefix_sum(
            df, "o_totalprice", ["o_orderkey"], ["o_totalprice"]
        )
        assert retained_rdd_count(spark) == 1
        assert out.count() == df.count()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        flush_pending_releases()
        assert retained_rdd_count(spark) == 0
        assert out.count() == df.count()

    def test_ranking_finalize_releases_fact_cache(self, spark, sf_dir):
        # a caller's finalizing reduction over the ranked / bucketed
        # frame is a lazy read of the input materialization, never a
        # checkpoint: the cache is live after the action and the
        # boundary releases it
        from hdsp_hive_release_src_spark.operators.ranking import (
            exact_ntile,
            with_global_rank,
        )

        df = _orders(spark, sf_dir).select("o_totalprice", "o_orderkey")
        flush_pending_releases()
        ranked, total = with_global_rank(
            df, "o_totalprice", ["o_orderkey"], rank_col="rnk"
        )
        reduced = ranked.agg(F.max("rnk").alias("m"))
        plan = reduced._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan
        assert reduced.collect()[0]["m"] == total
        assert retained_rdd_count(spark) == 1
        assert flush_pending_releases() == 1
        assert retained_rdd_count(spark) == 0

        nt = exact_ntile(df, "o_totalprice", ["o_orderkey"], n_buckets=4)
        assert nt.groupBy("bucket").count().count() == 4
        assert retained_rdd_count(spark) == 1
        flush_pending_releases()
        assert retained_rdd_count(spark) == 0

    def test_ranking_finalize_nonreduced_keeps_cache(
        self, spark, sf_dir
    ):
        # a row-per-input result the caller derives from the ranked
        # frame is never checkpointed (fact-row localCheckpoint is the
        # forbidden tier): it stays lazy over the input cache, which
        # lives until the boundary
        from hdsp_hive_release_src_spark.operators.ranking import (
            with_global_rank,
        )

        flush_pending_releases()
        df = _orders(spark, sf_dir).select("o_totalprice", "o_orderkey")
        ranked, total = with_global_rank(
            df, "o_totalprice", ["o_orderkey"], rank_col="rnk"
        )
        out = ranked.select("o_orderkey", "rnk")
        assert out.count() == total
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan  # not checkpointed
        assert retained_rdd_count(spark) == 1  # cache kept
        assert flush_pending_releases() == 1
        assert retained_rdd_count(spark) == 0


class TestQueryCacheRelease:
    # every registered query leaves ZERO persistent RDDs, at any
    # storage level, once its lifecycle completes (collect, then the
    # query boundary the registry wrapper runs at the next call).
    # tools/run_gates.py checks all 494 names each round; these pin
    # the persist users, the ranking callers and the four queries
    # whose raw localCheckpoints piled up across calls (8 → 11 → 16
    # persistent RDDs over three dedup_10x rounds) while only
    # DISK_ONLY persists were counted.
    RELEASING = [
        "conformal_prediction_interval",
        "rake_keyword_phrases",
        "mad_outliers",
        "table_diff_reconcile",
        "funnel_windowed_strict",
        "cohort_ltv_matrix",
        "histogram_equi_depth",
        "trimmed_mean",
        "kmeans_clusters",
        "window_ntile",
        "quantile_normalize",
        "rfm_segmentation",
        "lorenz_curve_deciles",
        "gini_concentration_index",
        "abc_pareto_class",
        "asof_join_events_orders",
        "dedup_components",
        "semantic_dedup",
        "pagerank_trade_graph",
        "heavy_hitters_topk",
    ]

    def test_asof_cache_lives_to_the_boundary_then_releases(
        self, spark, sf_dir
    ):
        # the cache is built BY the consumer's action and saves a scan
        # WITHIN it (both as-of sides read one build) — so it must be
        # live after collect and gone after the boundary
        from hdsp_hive_release_src_spark import registry

        registry.load_all()
        flush_pending_releases()
        rows = registry.QUERIES["asof_join_events_orders"](
            spark, sf_dir
        ).collect()
        assert rows
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert retained_rdd_count(spark) == 1
        assert flush_pending_releases() == 1
        assert retained_rdd_count(spark) == 0

    def test_registry_wrapper_flushes_at_next_call(self, spark, sf_dir):
        # the harness boundary itself: calling the NEXT query through
        # the registry releases the previous query's caches
        # (driver/bench/sweeps all run call → collect → call next)
        from hdsp_hive_release_src_spark import registry

        registry.load_all()
        flush_pending_releases()
        out = registry.QUERIES["window_ntile"](spark, sf_dir)
        assert retained_rdd_count(spark) == 1
        assert out.count() > 0
        # building (not even running) the next query flushes
        registry.QUERIES["q6_revenue_forecast"](spark, sf_dir)
        assert retained_rdd_count(spark) == 0

    def test_boundary_without_spark_context_returns_zero(
        self, monkeypatch
    ):
        from pyspark import SparkContext

        monkeypatch.setattr(SparkContext, "_active_spark_context", None)
        assert flush_pending_releases() == 0

    def test_boundary_releases_raw_checkpoints_loudly(self, spark, sf_dir):
        # a raw localCheckpoint is released like any cache; a frame
        # acted on after the boundary that reads it fails loudly
        # instead of silently recomputing
        flush_pending_releases()
        ck = (
            _orders(spark, sf_dir)
            .groupBy("o_custkey")
            .agg(F.max("o_orderdate").alias("d"))
            .localCheckpoint()
        )
        assert retained_rdd_count(spark) == 1
        assert flush_pending_releases() == 1
        assert retained_rdd_count(spark) == 0
        with pytest.raises(Exception, match="Checkpoint block"):
            ck.collect()

    def test_reduced_output_queries_leave_no_disk_cache(
        self, spark, sf_dir
    ):
        from hdsp_hive_release_src_spark import registry

        registry.load_all()
        for name in self.RELEASING:
            rows = registry.QUERIES[name](spark, sf_dir).collect()
            assert rows, name
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            # the completed lifecycle: collect + boundary
            flush_pending_releases()
            assert retained_rdd_count(spark) == 0, name


class TestKmeansCacheRelease:
    def test_kmeans_releases_corpus_cache(self, spark, sf_dir):
        # no session-lifetime leak per kmeans() call: a caller's
        # per-cluster reduction reads the live corpus cache, and the
        # boundary releases it
        from hdsp_hive_release_src_spark.functions.vectors import (
            to_double,
        )
        from hdsp_hive_release_src_spark.operators.kmeans import kmeans

        flush_pending_releases()
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", to_double("embedding").alias("v")
        )
        out = kmeans(e).groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n")
        )
        assert out.count() > 0
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert retained_rdd_count(spark) == 1
        assert flush_pending_releases() == 1
        assert retained_rdd_count(spark) == 0

    def test_kmeans_default_path_releases_cache(self, spark, sf_dir):
        # the assignments come back lazily over the live corpus cache:
        # the seed collect, the centroid collects and the consumer's
        # action execute ONE embeddings scan between them; the
        # boundary releases the cache and lineage still serves
        from hdsp_hive_release_src_spark.functions.vectors import (
            to_double,
        )
        from hdsp_hive_release_src_spark.operators.kmeans import kmeans
        from hdsp_hive_release_src_spark.plans import (
            executed_scans,
            snapshot_executions,
        )

        flush_pending_releases()
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", to_double("embedding").alias("v")
        )
        n = e.count()
        before = snapshot_executions(spark)
        out = kmeans(e)
        assert out.count() == n
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert executed_scans(spark, before, "embeddings") == 1
        assert retained_rdd_count(spark) == 1
        flush_pending_releases()
        assert retained_rdd_count(spark) == 0
        assert out.count() == n

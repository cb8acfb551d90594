"""The materialization-tier guard (r13 advice / r14 verdict item 4):
operators/ranking.py must not trust callers to pass reduced frames —
the tier is derived from the optimized logical plan. Fact-row-sized
inputs get DISK_ONLY persist (lineage retained — survives executor
loss at the 100 TB design point); reduced (aggregate-rooted) inputs
keep the cheap eager localCheckpoint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from hdsp_hive_release_src_spark.operators.materialize import (
    is_reduced_rooted,
    materialize_input,
)


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
        df, release = materialize_input(ck.where(F.col("o_totalprice") > 0))
        # routed to DISK_ONLY persist, never a second localCheckpoint
        assert df.storageLevel == StorageLevel.DISK_ONLY
        release()

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
        out, release = materialize_input(df)
        try:
            assert out.storageLevel == StorageLevel.DISK_ONLY
            # localCheckpoint rewrites the plan to an RDD-scan leaf;
            # a persist must keep the original lineage
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert "LogicalRDD" not in plan
        finally:
            release()
        assert out.storageLevel == StorageLevel.NONE

    def test_reduced_frame_gets_checkpoint(self, spark, sf_dir):
        df = (
            _orders(spark, sf_dir)
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("s"))
        )
        out, release = materialize_input(df)
        # checkpoint-tier release is a no-op: the blocks ARE the data
        release()
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
        out, release = materialize_input(ck)
        assert out is ck
        release()  # no-op
        assert out.count() > 0
        # a DERIVED frame (projection on top) still re-materializes —
        # the fast path is root-leaf only
        derived, release2 = materialize_input(ck.select("o_custkey"))
        assert derived is not ck
        release2()

    def test_ranking_routes_fact_input_to_persist(self, spark, sf_dir):
        # fact input: persisted DISK_ONLY for the two build collects,
        # release DEFERRED to the query-boundary flush (r16 —
        # r15 verdict item 5): at return the cache is STILL LIVE, so
        # the consumer's first action reads the build's
        # materialization (single executed scan; offsets and output
        # rows from one snapshot), and the boundary flush drops it
        from hdsp_hive_release_src_spark.operators.materialize import (
            flush_pending_releases,
        )
        from hdsp_hive_release_src_spark.operators.ranking import (
            with_global_rank,
        )

        spark.catalog.clearCache()
        flush_pending_releases()
        before = _disk_only_rdd_count(spark)
        df = _orders(spark, sf_dir).select("o_totalprice", "o_orderkey")
        ranked, total = with_global_rank(
            df, "o_totalprice", ["o_orderkey"], rank_col="rnk"
        )
        assert total == df.count()
        plan = ranked._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan
        # the cache is alive until the boundary: the consumer's read
        # hits it rather than re-executing the pruned scan
        assert _disk_only_rdd_count(spark) == before + 1
        assert ranked.count() == total
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert flush_pending_releases() >= 1
        assert _disk_only_rdd_count(spark) == before
        # post-flush reads recompute from DISK_ONLY's retained lineage
        assert ranked.count() == total

    def test_prefix_sum_releases_fact_cache(self, spark, sf_dir):
        # r16: range_prefix_sum shares with_global_rank's deferred
        # boundary contract — fact-tier input persisted for the two
        # build collects, alive through the consumer's action, dropped
        # by the boundary flush
        from hdsp_hive_release_src_spark.operators.materialize import (
            flush_pending_releases,
        )
        from hdsp_hive_release_src_spark.operators.ranking import (
            range_prefix_sum,
        )

        spark.catalog.clearCache()
        flush_pending_releases()
        before = _disk_only_rdd_count(spark)
        df = _orders(spark, sf_dir).select("o_totalprice", "o_orderkey")
        out = range_prefix_sum(
            df, "o_totalprice", ["o_orderkey"], ["o_totalprice"]
        )
        assert _disk_only_rdd_count(spark) == before + 1
        assert out.count() == df.count()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        flush_pending_releases()
        assert _disk_only_rdd_count(spark) == before
        assert out.count() == df.count()

    def test_ranking_finalize_releases_fact_cache(self, spark, sf_dir):
        # kmeans-style hygiene: with a reduced finalize, the operator
        # eagerly builds the reduction off the cache, releases the
        # DISK_ONLY input persist, and leaves nothing for the session
        from hdsp_hive_release_src_spark.operators.ranking import (
            exact_ntile,
            with_global_rank,
        )

        # isolate from earlier tests' leftover caches: CacheManager
        # dedupes identical plans, so a pre-existing cache of the same
        # projection would make persist a no-op and release drop the
        # shared entry
        spark.catalog.clearCache()
        before = _disk_only_rdd_count(spark)
        df = _orders(spark, sf_dir).select("o_totalprice", "o_orderkey")
        out, total = with_global_rank(
            df,
            "o_totalprice",
            ["o_orderkey"],
            rank_col="rnk",
            finalize=lambda ranked, tot: ranked.agg(
                F.count(F.lit(1)).alias("n")
            ),
        )
        assert out.collect()[0]["n"] == total
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert _disk_only_rdd_count(spark) == before

        nt = exact_ntile(
            df,
            "o_totalprice",
            ["o_orderkey"],
            n_buckets=4,
            finalize=lambda b: b.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n")
            ),
        )
        assert nt.count() == 4
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert _disk_only_rdd_count(spark) == before

    def test_ranking_finalize_nonreduced_keeps_cache(
        self, spark, sf_dir
    ):
        # a row-per-input finalize result must NOT be checkpointed
        # (fact-row localCheckpoint is the forbidden tier) — the
        # operator returns it lazily and keeps the input cache
        from hdsp_hive_release_src_spark.operators.ranking import (
            with_global_rank,
        )

        spark.catalog.clearCache()
        before = _disk_only_rdd_count(spark)
        df = _orders(spark, sf_dir).select("o_totalprice", "o_orderkey")
        out, total = with_global_rank(
            df,
            "o_totalprice",
            ["o_orderkey"],
            rank_col="rnk",
            finalize=lambda ranked, tot: ranked.select(
                "o_orderkey", "rnk"
            ),
        )
        assert out.count() == total
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan  # not checkpointed
        assert _disk_only_rdd_count(spark) == before + 1  # cache kept
        spark.catalog.clearCache()


def _disk_only_rdd_count(spark) -> int:
    # localCheckpoint legitimately registers MEMORY_AND_DISK entries
    # (the reduced-tier discipline); the leak class under test is the
    # corpus-sized DISK_ONLY persist surviving the operator call
    sc = spark.sparkContext._jsc.sc()
    rdds = sc.getPersistentRDDs()
    it = rdds.values().iterator()
    n = 0
    while it.hasNext():
        lvl = it.next().getStorageLevel()
        if (
            lvl.useDisk()
            and not lvl.useMemory()
            and not lvl.useOffHeap()
        ):
            n += 1
    return n


class TestQueryCacheRelease:
    # every registered query that DISK_ONLY-persists a fact-row
    # intermediate must leave ZERO session caches once its lifecycle
    # completes — reduced finals release in-query via
    # checkpoint_reduced_and_release (r14); row-per-input consumers
    # (the no-finalize ranking callers, asof's consumer-built
    # projection) defer their release to the query-boundary flush the
    # registry wrapper runs at the next call (r16, r15 verdict
    # item 5). There are NO documented retentions left registry-wide
    # (tools/run_gates.py flags any retained cache and checks all
    # 494 names each round).
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
        # r16: deferred by with_global_rank's no-finalize path; the
        # driver's collect reads the build materialization (single
        # executed scan) and the boundary flush drops the cache
        "window_ntile",
        "quantile_normalize",
        "rfm_segmentation",
        "lorenz_curve_deciles",
        "gini_concentration_index",
        # r15: fed a RAW localCheckpoint into range_prefix_sum, which
        # the verified classifier refuses — caught as a retained
        # DISK_ONLY persist by the gates' cache-hygiene check;
        # fixed via checkpoint_reduced (queries/olap.py)
        "abc_pareto_class",
        # r16: the former single documented retention — its
        # consumer-built two-type projection now unpersists at the
        # boundary flush instead of living for the session
        "asof_join_events_orders",
    ]

    def test_asof_cache_lives_to_the_boundary_then_releases(
        self, spark, sf_dir
    ):
        # the cache is built BY the consumer's action and saves a scan
        # WITHIN it (both as-of sides read one build) — so it must be
        # live after collect and gone after the boundary flush
        from hdsp_hive_release_src_spark import registry
        from hdsp_hive_release_src_spark.operators.materialize import (
            flush_pending_releases,
        )

        registry.load_all()
        spark.catalog.clearCache()
        flush_pending_releases()
        before = _disk_only_rdd_count(spark)
        rows = registry.QUERIES["asof_join_events_orders"](
            spark, sf_dir
        ).collect()
        assert rows
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert _disk_only_rdd_count(spark) == before + 1
        assert flush_pending_releases() >= 1
        assert _disk_only_rdd_count(spark) == before

    def test_registry_wrapper_flushes_at_next_call(self, spark, sf_dir):
        # the harness boundary itself: calling the NEXT query through
        # the registry releases the previous query's deferred caches
        # (driver/bench/sweeps all run call → collect → call next)
        from hdsp_hive_release_src_spark import registry
        from hdsp_hive_release_src_spark.operators.materialize import (
            flush_pending_releases,
        )

        registry.load_all()
        spark.catalog.clearCache()
        flush_pending_releases()
        before = _disk_only_rdd_count(spark)
        out = registry.QUERIES["window_ntile"](spark, sf_dir)
        assert _disk_only_rdd_count(spark) == before + 1
        assert out.count() > 0
        # building (not even running) the next query flushes
        registry.QUERIES["q6_revenue_forecast"](spark, sf_dir)
        assert _disk_only_rdd_count(spark) == before

    def test_flush_is_failsoft(self):
        from hdsp_hive_release_src_spark.operators.materialize import (
            defer_release,
            flush_pending_releases,
        )

        flush_pending_releases()

        def boom():
            raise RuntimeError("dead context")

        hits = []
        defer_release(boom)
        defer_release(lambda: hits.append(1))
        assert flush_pending_releases() == 2
        assert hits == [1]
        assert flush_pending_releases() == 0

    def test_reduced_output_queries_leave_no_disk_cache(
        self, spark, sf_dir
    ):
        from hdsp_hive_release_src_spark import registry
        from hdsp_hive_release_src_spark.operators.materialize import (
            flush_pending_releases,
        )

        registry.load_all()
        for name in self.RELEASING:
            spark.catalog.clearCache()
            flush_pending_releases()
            before = _disk_only_rdd_count(spark)
            rows = registry.QUERIES[name](spark, sf_dir).collect()
            assert rows, name
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            # the completed lifecycle: collect + boundary flush
            flush_pending_releases()
            assert _disk_only_rdd_count(spark) == before, name


class TestKmeansCacheRelease:
    def test_kmeans_releases_corpus_cache(self, spark, sf_dir):
        # r13 advice: no session-lifetime DISK_ONLY leak per kmeans()
        # call — with finalize, the reduced result is built off the
        # cache and the cache is released before returning
        from hdsp_hive_release_src_spark.functions.vectors import (
            to_double,
        )
        from hdsp_hive_release_src_spark.operators.kmeans import kmeans

        before = _disk_only_rdd_count(spark)
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", to_double("embedding").alias("v")
        )
        out = kmeans(
            e,
            finalize=lambda a: a.groupBy("cluster").agg(
                F.count(F.lit(1)).alias("n")
            ),
        )
        assert out.count() > 0
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert _disk_only_rdd_count(spark) == before

    def test_kmeans_default_path_releases_cache(self, spark, sf_dir):
        from hdsp_hive_release_src_spark.functions.vectors import (
            to_double,
        )
        from hdsp_hive_release_src_spark.operators.kmeans import kmeans

        before = _disk_only_rdd_count(spark)
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", to_double("embedding").alias("v")
        )
        out = kmeans(e)
        # lineage retained by DISK_ONLY: the post-release read
        # recomputes from the parquet scan and still returns all rows
        assert out.count() == e.count()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert _disk_only_rdd_count(spark) == before

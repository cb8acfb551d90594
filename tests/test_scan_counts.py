"""Fact-table scan-count pins for the TPC-H set (r11 verdict item 6).

q18's two-scan shape hid for ten rounds because correctness and even
decent wall-clock don't expose an avoidable extra scan of the biggest
table — at 100 TB a second lineitem pass is ~100 TB of wasted IO. This
test counts the `Location ... lineitem|orders` leaves in each query's
formatted plan and pins the expected number, so any re-plan (or an
optimizer change) that adds a fact scan fails loudly.

Pins of 2 are deliberate and commented; anything unexplained is a
re-plan candidate, not a new pin.
"""

from __future__ import annotations

import pytest

from hdsp_hive_release_src_spark.plans import explain_str

SF_DIR = "/root/testdata/sf0.001"

# name -> (lineitem scans, orders scans). Comments justify every
# non-obvious pin.
EXPECTED = {
    "q1_pricing_summary": (1, 0),
    # no partsupp table in this schema — lineitem plays its role, so
    # the min-cost-supplier aggregation reads lineitem once
    "q2_min_cost_supplier": (1, 0),
    "q3_shipping_priority": (1, 1),
    "q4_order_priority": (1, 1),
    "q5_local_supplier_volume": (1, 1),
    "q6_revenue_forecast": (1, 0),
    "q7_volume_shipping": (1, 1),
    "q8_market_share": (1, 1),
    "q9_product_profit": (1, 0),
    "q10_returned_items": (1, 1),
    # r12/r13 re-plan: per-part aggregate is localCheckpoint-ed and
    # the global threshold is a 1-row broadcast from the same
    # checkpoint (no driver collect), so the FINAL plan reads the
    # checkpoint — zero parquet scans; the one real lineitem scan
    # happens when the query function materializes the checkpoint
    # (pinned at 1 in RUNTIME_SCANS below)
    "q11_important_parts": (0, 0),
    "q12_priority_shipping": (1, 1),
    "q13_customer_distribution": (0, 1),
    "q14_promo_effect": (1, 0),
    # scalar-max-of-view shape: the revenue view feeds both the output
    # rows and the max() subquery, and the view is supplier-sized at
    # the JOIN key level, so the second scan is the cheaper trade vs a
    # single-partition global window (r11 verdict: pin 2)
    "q15_top_supplier": (2, 0),
    "q16_supplier_count": (1, 0),
    # correlated per-part avg: the per-part aggregate must join back
    # to the base lineitem rows, and lineitem itself is too big to
    # checkpoint — the second scan is irreducible (r11 verdict: pin 2)
    "q17_small_quantity_revenue": (2, 0),
    "q18_large_volume_customer": (1, 1),
    "q19_discount_revenue": (1, 0),
    "q20_promo_shippers": (1, 0),
    # r12 re-plan: one lineitem+orders join with a two-level pair
    # aggregate replaced the separate multi-supplier and late-pair
    # subplans (was 2 lineitem scans)
    "q21_sole_late_supplier": (1, 1),
    "q22_global_sales": (0, 1),
}


def _scan_counts(plan: str) -> tuple[int, int]:
    li = sum(
        1
        for ln in plan.splitlines()
        if "Location" in ln and "lineitem" in ln
    )
    od = sum(
        1
        for ln in plan.splitlines()
        if "Location" in ln and "orders" in ln
    )
    return li, od


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_fact_scan_count_pinned(spark, name):
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    plan = explain_str(registry.QUERIES[name](spark, SF_DIR))
    assert _scan_counts(plan) == EXPECTED[name], (
        f"{name}: fact-table scan count drifted from the pinned "
        f"(lineitem, orders)={EXPECTED[name]} — an added scan is "
        f"~100 TB of extra IO at scale; re-plan or justify a new pin"
    )


# Corpus-table pins for the LLM-pipeline set: documents and
# embeddings are the 100 TB tables in production, so an avoidable
# re-scan there is the same class of defect as a second lineitem
# pass. Counts are Location leaves in the FINAL plan — queries that
# eagerly localCheckpoint/materialize (the multi-consumer idiom) show
# fewer visible scans than real ones; the comment states the real
# total. name -> (documents scans, embeddings scans).
EXPECTED_CORPUS = {
    "dedup_exact": (1, 0),
    "dedup_ngram_jaccard": (1, 0),
    "dedup_simhash": (1, 0),
    "dedup_containment": (1, 0),
    "dedup_keep_best": (1, 0),
    # components operator checkpoints its pair graph (0 visible; one
    # real scan at build)
    "dedup_components": (0, 0),
    # corpus vs batch are two ROLES of one test table; in production
    # they are different tables — 2 is the honest shape
    "incremental_dedup": (2, 0),
    "incremental_dedup_minhash": (2, 0),
    # signature build + the verify self-join reading the shingle
    # projection for each pair side; production verifies against the
    # stored signature/doc table, so the two verify reads are storage
    # reads either way
    "dedup_minhash_lsh": (3, 0),
    # full training-side gram scan + the eval-shard branch (predicate
    # pushdown makes it shard-sized) + the column-pruned per-source
    # doc counts
    "decontaminate_ngrams": (3, 0),
    # r12 re-plan: model stats checkpointed (1 build scan) + the
    # visible scoring scan — was 5
    "dsir_importance_weights": (1, 0),
    # r12 re-plan: TF table checkpointed — 1 real scan at build (was
    # 4 and 3)
    "jensen_shannon_drift": (0, 0),
    "kl_divergence_drift": (0, 0),
    # r12 re-plan: df folded into the tf aggregation chain (was 3);
    # the second scan is the column-pruned count(*) for N
    "tfidf_top_terms": (2, 0),
    # r12 re-plan: tf checkpointed — 1 real scan at build (was 2)
    "bm25_ranked_retrieval": (0, 0),
    "text_quality": (1, 0),
    "gopher_quality_rules": (1, 0),
    "text_langid": (1, 0),
    "token_count": (1, 0),
    "doc_fingerprint": (1, 0),
    # queries (vec_id < 5) and corpus are two roles of one table;
    # production queries arrive separately — 2 is the honest shape
    "ann_bruteforce_topk": (0, 2),
    "ann_lsh_topk": (0, 2),
    "embedding_cosine_pairs": (0, 2),
    # codebook build + assignment + query-probe branches; production
    # stores codebook and assignment (semantic_dedup demonstrates the
    # materialized form of exactly this pipeline)
    "ann_ivf_topk": (0, 4),
    # r13 re-plan: one exploded multi-query pass over the encoded
    # codes table (was a per-query branch union — 3 visible / 5
    # executed); the remaining visible scan is the encode pass, plus
    # two driver-side setup reads at build (see RUNTIME_SCANS)
    "ann_product_quantization": (0, 1),
    # r13 re-plan: group/assignment/membership all materialized (the
    # corpus scans — group build + member join — run once at build).
    # r17: scratch parquet → localCheckpoint/persist; the one visible
    # Location line is the members persist's cached-build plan, which
    # EXPLAIN prints once inside InMemoryRelation — it executes once
    # (RUNTIME_SCANS pins embeddings at 2 total, unchanged)
    "semantic_dedup": (0, 1),
    # r12 fixes (see the changed-this-round comment in registry.py):
    # two-pass MG with the total folded into the checkpointed recount
    # (0 visible; 2 real scans at build, was 3)
    "heavy_hitters_topk": (0, 0),
    # pair scan + the checkpointed signature table build (was 3)
    "minhash_estimate_accuracy": (1, 0),
    # checkpointed reference-shard model + the visible scoring scan
    # (was 4)
    "bigram_lm_score": (1, 0),
    # both n-gram count tables checkpointed — 2 real scans at build,
    # the documented "two aggregation passes" (was 5)
    "phrase_mining_pmi": (0, 0),
    # token-count table checkpointed — 1 real scan at build (was 3)
    "vocab_coverage_audit": (0, 0),
    # pair-generation scan + two column-pruned (doc_id, source) label
    # reads — the heavy scan is single; the label reads are two-column
    # parquet chunks at any scale
    "cross_source_dedup_matrix": (3, 0),
}


# Iterative / multi-consumer queries fixed by the r12 full-registry
# scan sweep (now tools/run_gates.py): each re-ran its fact scan 6-94x at
# runtime before its derived base table was checkpointed. Their FINAL
# plans must now contain ZERO parquet fact scans — everything reads
# the checkpoint; the one real scan happens at build.
ITERATIVE_ZERO_SCAN = (
    "triangle_clustering_coeff",
    "shortest_path_bfs",
    "pagerank_trade_graph",
    "hits_hub_authority",
    "association_rules_lift",
    "kmv_set_operations",
    "pca_power_iteration_exact",
    "ks_two_sample",
    "degree_assortativity",
    "ra_link_prediction",
    # second wave: the 3-5 scan orders/events tier, same fix
    "approx_count_distinct_rsd",
    "bloom_filter_membership",
    "chi_square_independence",
    "column_profile",
    "cosupply_bipartite_projection",
    "cramers_v_effect",
    "gapfill_daily",
    "kendall_tau_b_grid",
    "largest_remainder_allocation",
    "mann_kendall_trend",
    "markov_two_step",
    "neyman_allocation_sampling",
    "quantile_treatment_effect",
    "seasonal_decompose_additive",
    "share_of_parent_rollup",
)


# r13 advice fix: these five materialize a FACT-ROW-SIZED narrow
# projection for multiple consumers. localCheckpoint was the r12
# shape; it put fact-row data on non-reliable executor-local storage
# with lineage severed (lost block = dead query under executor loss /
# dynamic allocation), so they now persist(DISK_ONLY) instead
# (operators/materialize.py). persist keeps lineage, so the FINAL
# plan legitimately shows the ONE cache-build parquet scan — pinned
# here as (table, visible scans); the executed totals are pinned in
# RUNTIME_SCANS below.
PERSISTED_FACT_ROWS = {
    "conformal_prediction_interval": ("orders", 1),
    "funnel_windowed_strict": ("events", 1),
    "mad_outliers": ("events", 1),
    "table_diff_reconcile": ("orders", 1),
    "cohort_ltv_matrix": ("events", 1),
}


@pytest.mark.parametrize("name", sorted(PERSISTED_FACT_ROWS))
def test_persisted_fact_plan_shows_single_build_scan(spark, name):
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    table, expected = PERSISTED_FACT_ROWS[name]
    spark.catalog.clearCache()
    try:
        plan = explain_str(registry.QUERIES[name](spark, SF_DIR))
    finally:
        spark.catalog.clearCache()
    got = sum(
        1
        for ln in plan.splitlines()
        if "Location" in ln and table in ln
    )
    assert got == expected, (
        f"{name}: visible {table} scans {got} != {expected} — the "
        f"DISK_ONLY-persisted projection should appear exactly once "
        f"(its cache-build plan)"
    )

_FACT_TABLES = ("lineitem", "orders", "events", "documents",
                "embeddings")


@pytest.mark.parametrize("name", sorted(ITERATIVE_ZERO_SCAN))
def test_iterative_query_reads_its_checkpoint(spark, name):
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    plan = explain_str(registry.QUERIES[name](spark, SF_DIR))
    leaks = {
        t: sum(
            1
            for ln in plan.splitlines()
            if "Location" in ln and t in ln
        )
        for t in _FACT_TABLES
    }
    leaks = {t: c for t, c in leaks.items() if c}
    assert not leaks, (
        f"{name}: fact scans crept back above the checkpoint "
        f"({leaks}) — each loop iteration would re-scan the fact "
        f"table at 100 TB"
    )


def _corpus_scan_counts(plan: str) -> tuple[int, int]:
    dd = sum(
        1
        for ln in plan.splitlines()
        if "Location" in ln and "documents" in ln
    )
    ee = sum(
        1
        for ln in plan.splitlines()
        if "Location" in ln and "embeddings" in ln
    )
    return dd, ee


@pytest.mark.parametrize("name", sorted(EXPECTED_CORPUS))
def test_corpus_scan_count_pinned(spark, name):
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    plan = explain_str(registry.QUERIES[name](spark, SF_DIR))
    assert _corpus_scan_counts(plan) == EXPECTED_CORPUS[name], (
        f"{name}: corpus-table scan count drifted from the pinned "
        f"(documents, embeddings)={EXPECTED_CORPUS[name]}"
    )


def test_every_tpch_query_is_pinned():
    """A new §2.1 query must land with a scan-count pin."""
    import re

    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    tpch = {n for n in registry.QUERIES if re.match(r"q\d+_", n)}
    assert tpch == set(EXPECTED)


# ---------------------------------------------------------------
# Runtime (EXECUTED) scan pins — r13 advice item: the plan pins
# above count Location leaves in the final plan, which is blind to
# (a) scans that run at build time behind an eager localCheckpoint
# (the q11 / iterative-family (0,0) pins assert nothing about real
# IO) and (b) cached-plan scan nodes that never execute. These pins
# count scans that actually RAN — plans/runtime.py counts scan
# nodes with recorded metric values across every SQL execution the
# query triggered, build-time checkpoint/broadcast/cache jobs
# included. This is the IO-truth contract: at 100 TB each unit here
# is a full pass over the table.
#
# name -> {table: executed scans for build + one full run}.
RUNTIME_SCANS = {
    # one real lineitem pass builds the checkpointed per-part
    # aggregate; the threshold is a 1-row broadcast from the same
    # checkpoint (r13: no driver collect)
    "q11_important_parts": {"lineitem": 1},
    # scalar-max-of-view / correlated-avg shapes: second pass pinned
    # with reason in EXPECTED above
    "q15_top_supplier": {"lineitem": 2},
    # second lineitem pass is the documented correlated-avg probe;
    # the part dimension (brand/container filter) reads once
    "q17_small_quantity_revenue": {"lineitem": 2, "part": 1},
    "q21_sole_late_supplier": {"lineitem": 1, "orders": 1},
    # iterative family: ONE pass builds the checkpointed edge/grid/
    # moment table; every loop round reads the checkpoint
    "triangle_clustering_coeff": {"lineitem": 1, "orders": 1},
    "shortest_path_bfs": {"lineitem": 1, "orders": 1},
    "pagerank_trade_graph": {"lineitem": 1, "orders": 1},
    "hits_hub_authority": {"lineitem": 1, "orders": 1},
    "degree_assortativity": {"lineitem": 1, "orders": 1},
    "ra_link_prediction": {"lineitem": 1, "orders": 1},
    "association_rules_lift": {"events": 1},
    "kmv_set_operations": {"events": 1},
    "pca_power_iteration_exact": {"embeddings": 1},
    "ks_two_sample": {"orders": 1},
    # one-scan orders/events tier (r12 sweep wave 2)
    "approx_count_distinct_rsd": {"events": 1},
    "bloom_filter_membership": {"events": 1},
    "chi_square_independence": {"events": 1},
    "column_profile": {"orders": 1},
    "cosupply_bipartite_projection": {"lineitem": 1},
    "cramers_v_effect": {"orders": 1},
    "gapfill_daily": {"events": 1},
    "kendall_tau_b_grid": {"orders": 1},
    "largest_remainder_allocation": {"orders": 1},
    "mann_kendall_trend": {"orders": 1},
    "markov_two_step": {"events": 1},
    "neyman_allocation_sampling": {"orders": 1},
    "quantile_treatment_effect": {"events": 1},
    "seasonal_decompose_additive": {"orders": 1},
    # one orders pass + the customer dimension join (now visible
    # since customer joined the counted tables)
    "share_of_parent_rollup": {"orders": 1, "customer": 1},
    # DISK_ONLY-persisted fact projections (PERSISTED_FACT_ROWS):
    # one cache-build pass each; mad_outliers' second pass is the
    # documented second median pass (group medians before deviations)
    "conformal_prediction_interval": {"orders": 1},
    "funnel_windowed_strict": {"events": 1},
    "table_diff_reconcile": {"orders": 1},
    "cohort_ltv_matrix": {"events": 1},
    "mad_outliers": {"events": 2},
    # corpus tier: checkpointed TF/model/signature tables
    "jensen_shannon_drift": {"documents": 1},
    "kl_divergence_drift": {"documents": 1},
    "bm25_ranked_retrieval": {"documents": 1},
    "vocab_coverage_audit": {"documents": 1},
    "tfidf_top_terms": {"documents": 2},
    "heavy_hitters_topk": {"documents": 2},
    "phrase_mining_pmi": {"documents": 2},
    "dsir_importance_weights": {"documents": 2},
    "minhash_estimate_accuracy": {"documents": 2},
    "bigram_lm_score": {"documents": 2},
    "dedup_components": {"documents": 1},
    # component-label build + the pruned (doc_id, n_chars) metadata
    # read — 2 is the honest total
    "dedup_keep_best": {"documents": 2},
    # runtime beats the 3 visible scans: exchange reuse fires across
    # the two verify sides at execution
    "dedup_minhash_lsh": {"documents": 2},
    # corpus + batch roles of one table
    "incremental_dedup": {"documents": 2},
    "incremental_dedup_minhash": {"documents": 2},
    "cross_source_dedup_matrix": {"documents": 2},
    # training grams + eval shard + pruned per-source doc counts
    "decontaminate_ngrams": {"documents": 3},
    # r13 re-plan: group table materialized — group build + member
    # join are the only corpus passes (was 4)
    "semantic_dedup": {"embeddings": 2},
    # two driver-side setup reads (md5-top-16 codebook, 3 pushed-down
    # query rows) + ONE exploded multi-query scoring pass (was 5)
    "ann_product_quantization": {"embeddings": 3},
    # codebook + assignment + probe branches (production stores the
    # first two as artifacts; ann_pq/semantic_dedup demonstrate that)
    "ann_ivf_topk": {"embeddings": 3},
    # queries (vec_id < 5) and corpus are two roles of one table
    "ann_bruteforce_topk": {"embeddings": 2},
    "ann_lsh_topk": {"embeddings": 2},
    "embedding_cosine_pairs": {"embeddings": 2},
    # r13 subtree-sweep re-plans: one scan builds the checkpointed /
    # persisted multi-consumer table; every probe reads it
    "topo_sort_layers": {"part": 1},
    "supplier_concentration_hhi": {"lineitem": 1, "part": 1},
    "autocorr_daily_events": {"events": 1},
    "ewma_halving_window": {"orders": 1},
    "benford_distribution": {"orders": 1},
    "binseg_changepoint_gain": {"events": 1},
    "boilerplate_position_bias": {"documents": 1},
    "char_entropy_filter": {"documents": 1},
    "cusum_drift_detection": {"events": 1},
    "zipf_rank_frequency": {"documents": 1},
    "kmv_distinct_estimate": {"events": 1},
    "lorenz_curve_deciles": {"orders": 1},
    "mixture_weights": {"documents": 1},
    "mom_waterfall_contribution": {"orders": 1},
    "theil_index_inequality": {"orders": 1},
    "two_hop_reach": {"lineitem": 1, "orders": 1},
    "weekday_seasonality_index": {"events": 1},
    "stratified_ate_gcomputation": {"events": 1},
    "rake_keyword_phrases": {"documents": 1},
    "source_centroid_cosine": {"documents": 1, "embeddings": 1},
    # was exempted in the r12 sweep as "two-pass by design" — wrongly:
    # the per-part rollup re-ran for each prefix-sum probe. One scan.
    "abc_pareto_class": {"lineitem": 1},
    # sketch build + the semantically-necessary cross-flag exact
    # distinct (per-flag sets overlap; no fold replaces it)
    "hll_sketch_union": {"lineitem": 2},
    # two TABLESAMPLE scans (sampling happens AT the scan) + one
    # conditional aggregate carrying both the total and the mod twin
    "table_sample_percent_rows": {"orders": 3},
    # ranking-operator callers: with_global_rank/exact_ntile/
    # range_prefix_sum materialize their input once at entry (the
    # operator consumes it 3x: two build collects + the output), so
    # every caller is one fact pass. rfm was the worst: 14 executed
    # events scans before the operator fix (3 chained ntile calls
    # compounding), 2 after, 1 once the anchor folded into the
    # user-grain rollup.
    "rfm_segmentation": {"events": 1},
    "histogram_equi_depth": {"orders": 1},
    # the ranking callers are ONE executed scan: the input cache lives
    # to the query boundary, so the consumer's collect reads the
    # build's materialization instead of recomputing the pruned scan.
    "window_ntile": {"customer": 1},
    "gini_concentration_index": {"orders": 1},
    "quantile_normalize": {"orders": 1},
    "trimmed_mean": {"orders": 1},
    "roc_auc_exact": {"orders": 1},
    # iterative-ML input persisted DISK_ONLY: seed collect + per-round
    # centroid collects + the final assignment all read the cache
    "kmeans_clusters": {"embeddings": 1},
    # both as-of sides filter one fact table; the two-type projection
    # persists and each side is a cache read
    "asof_join_events_orders": {"events": 1},
}

_RUNTIME_TABLES = ("lineitem", "orders", "events", "documents",
                   "embeddings", "part", "customer")


@pytest.mark.parametrize("name", sorted(RUNTIME_SCANS))
def test_runtime_fact_scans_pinned(spark, name):
    from hdsp_hive_release_src_spark import registry
    from hdsp_hive_release_src_spark.plans import (
        executed_scans,
        snapshot_executions,
    )

    if not hasattr(spark, "_jsparkSession"):
        pytest.skip("status-store counter needs classic mode")
    registry.load_all()
    # cold cache both ways: a cache hit from an earlier run of the
    # same plan would hide the build scan; a leftover persist from
    # this test would distort later ones
    spark.catalog.clearCache()
    try:
        before = snapshot_executions(spark)
        registry.QUERIES[name](spark, SF_DIR).collect()
        got = {
            t: executed_scans(spark, before, t)
            for t in _RUNTIME_TABLES
        }
    finally:
        spark.catalog.clearCache()
    got = {t: c for t, c in got.items() if c}
    assert got == RUNTIME_SCANS[name], (
        f"{name}: executed fact scans {got} != pinned "
        f"{RUNTIME_SCANS[name]} — every extra unit is a full pass "
        f"over a 100 TB table; re-plan or justify a new pin"
    )

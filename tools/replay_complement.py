"""Replay-complement audit (r11 verdict item 5).

The 39 ``tests/test_independent_replays*.py`` batches rebuild query
outputs in third engines (pandas / numpy / pure-Python dicts). This
tool computes the COMPLEMENT — registry names not referenced in any
replay batch — and classifies every one as either

- ``replayed-elsewhere``: a dedicated test outside the replay batches
  recomputes the result from an independent model (``where`` names the
  file), or
- ``exempt``: no third-engine replay is needed, with the reason class:

  * builtin-parity   — impl calls a Spark builtin, oracle the DuckDB
    builtin: two independent engine implementations of a public
    function; parity IS the independent check.
  * relational-parity — plain joins/aggregations/windows declared in
    two engines with structurally different plans; no hand-derived
    arithmetic is shared (the Bollinger mode needs a shared formula).
  * ddl-catalog      — oracle pins literal DDL/SHOW/DESCRIBE output.
  * io-roundtrip     — write-then-read of real files; the roundtrip
    itself is the property, oracle reads literals.
  * engine-contract  — asserts plans/caching/hints/registration
    machinery, not data math.
  * pandas-engine    — the impl already routes through pandas/Arrow
    (a third engine) against a DuckDB oracle.
  * sketch-contract  — the oracle is EXACT ground truth gating a
    sketch estimate; parity is the independent model by construction.
  * oracle-is-ground-truth — the oracle intentionally computes the
    exact measure the impl approximates (e.g. LSH vs exact Jaccard).
  * property-complete — a dedicated test verifies the full defining
    property/spec (e.g. the skyline IS the nondominated set).
  * deterministic-hash — the spec is a reproducible hash assignment;
    outputs are exact integer rollups of it.
  * streaming-emit-contract — the oracle encodes the documented
    append-mode emit rule; family-level drain replays cover the
    mechanics.

Run ``python tools/replay_complement.py`` to regenerate
``tools/REPLAY_COMPLEMENT.json``; ``tests/test_replay_complement.py``
keeps the committed file exhaustive and consistent.
"""

from __future__ import annotations

import glob
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
OUT = REPO / "tools" / "REPLAY_COMPLEMENT.json"


def complement() -> list[str]:
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    text = "".join(
        Path(f).read_text()
        for f in glob.glob(str(REPO / "tests/test_independent_replays*.py"))
    )
    return [n for n in sorted(registry.QUERIES) if n not in text]


# Dedicated independent-model tests OUTSIDE the replay batches.
REPLAYED_ELSEWHERE: dict[str, str] = {
    "bollinger_breach": "tests/test_round9m.py",
    "max_drawdown_profile": "tests/test_round9m.py",
    "binseg_changepoint_gain": "tests/test_round9k.py",
    "conformal_prediction_interval": "tests/test_round9ac.py",
    "quantile_treatment_effect": "tests/test_round9ac.py",
    "kendall_tau_b_grid": "tests/test_round9i.py",
    "clamped_running_inventory": "tests/test_round9i.py",
    "spearman_rank_corr": "tests/test_round9b.py",
    "kmeans_clusters": "tests/test_kmeans.py",
    "triangle_clustering_coeff": "tests/test_round7b.py",
    "dedup_components": "tests/test_components_star.py",
    "dedup_keep_best": "tests/test_components_star.py",
    "business_days_lag": "tests/test_round9o.py",
    "kmv_set_operations": "tests/test_round9j.py",
    "morton_zorder_clustering": "tests/test_round9z.py",
    "ivm_delta_aggregate": "tests/test_round9aa.py",
    "regr_full_family": "tests/test_round9w.py",
    "approx_top_k_merge_contract": "tests/test_round9t.py",
    "dataframe_transpose": "tests/test_round9n.py",
}

# Per-name exemptions where the module default would be wrong or the
# reason deserves specificity.
OVERRIDES: dict[str, tuple[str, str]] = {
    "dedup_minhash_lsh": (
        "oracle-is-ground-truth",
        "the oracle computes EXACT Jaccard over the same shingle sets"
        " - parity directly audits the MinHash/LSH approximation",
    ),
    "ann_recall_audit": (
        "oracle-is-ground-truth",
        "the query itself is a recall cross-check of the LSH path"
        " against the exact brute-force twin (both replayed in batch"
        " 38); bucket bounds gated in tests/test_round8.py",
    ),
    "hll_sketch_union": (
        "sketch-contract",
        "native datasketches estimate gated by a within-5pct boolean"
        " against the exact distinct count computed in the same query",
    ),
    "histogram_numeric_contract": (
        "sketch-contract",
        "exact-oracle contract over the histogram_numeric estimate;"
        " contract bounds tested in tests/test_round8.py",
    ),
    "approx_quantile_rank_contract": (
        "sketch-contract",
        "exact rank-window oracle gates approx_percentile within its"
        " documented rank slack",
    ),
    "approx_top_k_contract": (
        "sketch-contract",
        "tracked >> distinct makes approx_top_k exact; oracle is a"
        " plain GROUP BY; exactness tested in tests/test_round9n.py",
    ),
    "hll_manual_registers": (
        "sketch-contract",
        "register-level contract: true distinct computed exactly in"
        " the same query; accuracy band + partition determinism in"
        " tests/test_round8b.py",
    ),
    "bitmap_distinct_agg": (
        "builtin-parity",
        "Spark bitmap agg builtins vs DuckDB bit arithmetic; the"
        " bitmap set algebra itself is replayed (batch, r11)",
    ),
    "topo_sort_layers": (
        "property-complete",
        "tests/test_round8b.py verifies the full spec: output is a"
        " valid topological layering AND each layer is the longest"
        " path length",
    ),
    "skyline_pareto_front": (
        "property-complete",
        "tests/test_round9g.py asserts the output IS exactly the"
        " nondominated set (the complete definition)",
    ),
    "table_diff_reconcile": (
        "property-complete",
        "tests/test_round9o.py pins diff counts against the injected"
        " mod-rule mutations (known ground truth)",
    ),
    "share_of_parent_rollup": (
        "property-complete",
        "tests/test_round9o.py asserts exact mass conservation at"
        " every rollup level (the defining invariant)",
    ),
    "unicode_nfc_dedup": (
        "property-complete",
        "tests/test_round9c.py pins collapse of exactly the injected"
        " NFC divergence",
    ),
    "stratified_kfold_assignment": (
        "deterministic-hash",
        "spec is the reproducible hash fold assignment; coverage and"
        " balance invariants tested in tests/test_round9c.py",
    ),
    "grouped_train_test_split": (
        "deterministic-hash",
        "spec is the group-hash split; the zero-leakage invariant"
        " (no source in both splits) tested in tests/test_round8.py",
    ),
    "fixed_size_hash_sample": (
        "deterministic-hash",
        "spec is the deterministic hash top-k sample; determinism and"
        " plan shape tested in tests/test_sketches.py",
    ),
    "shuffle_text_global": (
        "deterministic-hash",
        "spec is a deterministic hash permutation; cross-partitioning"
        " determinism + no-global-sort tested in tests/test_round8.py",
    ),
    "training_shard_manifest": (
        "deterministic-hash",
        "spec is the md5-nibble shard assignment; outputs are exact"
        " integer rollups of it",
    ),
    "url_canonical_dedup": (
        "property-complete",
        "tests/test_sketches.py pins the canonicalization groups"
        " against known URL variants",
    ),
    "weighted_sample_topk": (
        "deterministic-hash",
        "deterministic weighted-hash race; tilt-toward-weight"
        " property tested in tests/test_sketches.py",
    ),
    "boilerplate_position_bias": (
        "property-complete",
        "all-integer output; exact-integer identity test in"
        " tests/test_round7.py",
    ),
    "crypto_funcs_roundtrip": (
        "property-complete",
        "encrypt/decrypt and encode/decode roundtrip identities"
        " tested in tests/test_round7.py",
    ),
    "distinct_set_algebra": (
        "property-complete",
        "set-algebra identities (|AuB| = |A|+|B|-|AnB| etc.) tested"
        " in tests/test_round7.py",
    ),
    "st_wkb_surface": (
        "property-complete",
        "WKB encode/decode byte-identical roundtrip tested in"
        " tests/test_round9y.py",
    ),
    "window_time_semantics": (
        "property-complete",
        "inclusive-end boundary semantics pinned in"
        " tests/test_round9y.py",
    ),
    "stream_checkpoint_exactly_once": (
        "property-complete",
        "exactly-once delivery across a forced restart IS the spec"
        " under test",
    ),
    "stream_rate_source": (
        "property-complete",
        "deterministic rate-source output tested in"
        " tests/test_round7b.py",
    ),
    "stream_chained_windows": (
        "streaming-emit-contract",
        "two chained stateful aggs; oracle encodes the append-mode"
        " emit rule the family drain-replays verify",
    ),
    "stream_output_modes": (
        "streaming-emit-contract",
        "append/update/complete convergence to one final state tested"
        " in tests/test_round8.py",
    ),
    "watermark_lateness_profile": (
        "streaming-emit-contract",
        "profiles the documented watermark drop rule; the rule itself"
        " is drain-replayed at family level",
    ),
    "item_cooccurrence_support": (
        "relational-parity",
        "replayed in batch 39 (referenced there); naive self-join"
        " oracle vs postings impl are structurally different plans",
    ),
    "histogram_equi_depth": (
        "builtin-parity",
        "ntile/percentile builtins on both engines",
    ),
    "rfm_segmentation": (
        "builtin-parity",
        "ntile-based scoring on both engines",
    ),
    "mixture_weights": (
        "relational-parity",
        "exact integer count ratios per source/modality",
    ),
    "media_dedup_binary": (
        "builtin-parity",
        "md5 over binary columns on both engines",
    ),
    "binary_meta": (
        "property-complete",
        "magic-byte sniffing against injected known headers",
    ),
    "binaryfile_source": ("io-roundtrip", "binaryFile datasource read"),
    "frame_sample_plumbing": (
        "pandas-engine",
        "mapInPandas frame-sampling plumbing with deterministic fake"
        " decode; batch shapes asserted",
    ),
    "decimal_agg": (
        "builtin-parity",
        "DECIMAL sum/avg builtins; dtype drift guarded by the"
        " rounding-audit DESCRIBE scan",
    ),
    "nondeterministic_funcs_contract": (
        "engine-contract",
        "pins which functions are nondeterministic, not values",
    ),
    "dedup_ngram_jaccard": (
        "relational-parity",
        "replayed in batch 39 (referenced there)",
    ),
    "window_ntile": (
        "builtin-parity",
        "Spark ntile window builtin vs DuckDB ntile; the distributed"
        " exact_ntile operator variant is hypothesis-proven equal to"
        " SQL ntile in tests/test_properties.py",
    ),
    "skew_salted_join_agg": (
        "property-complete",
        "the salted_join operator is hypothesis-proven equal to the"
        " plain join in tests/test_properties.py; the query is a"
        " plain aggregate over it",
    ),
    "abc_pareto_class": (
        "property-complete",
        "covers-all-parts + class-boundary properties in"
        " tests/test_round9m.py; the cumulative-share machinery"
        " (range_prefix_sum) is lockstep-proven in"
        " tests/test_prefix_sum_lockstep.py",
    ),
}

# Names whose category differs from their domain module's default
# below; each takes its category's default reason.
_CATEGORY_OVERRIDES: dict[str, str] = {
    "builtin-parity": "group_order_by_all identifier_clause"
    " lateral_column_alias parameterized_query sql_session_variables"
    " star_syntax_variants table_sample_bucket table_sample_percent_rows"
    " values_inline_table",
    "ddl-catalog": "char_varchar_semantics from_csv_expressions"
    " group_ordinal_having inline_explode json_tuple"
    " limit_offset_pagination nested_struct_json null_ordering"
    " null_partition_handling parquet_bloom_filter_write"
    " parquet_schema_merge reflect_java_method schema_evolution_union"
    " sequence_generate_series text_source_options udaf_register"
    " udtf_lateral xpath_extract",
    "engine-contract": "analyze_column_stats analyze_table_stats"
    " cache_table_reuse cluster_by_clause ctas_catalog explain_cbo_stats"
    " explain_plan_surface join_hint_strategies json_corrupt_record"
    " multichar_delim_csv multiline_json_source observed_load_metrics"
    " rebalance_hint_partitioning script_transform"
    " show_columns_views_surface show_functions_surface sql_over_views"
    " sql_scripting_block sql_table_function sql_udf_registration"
    " transform_using_script udtf_python_lateral zorder_interleave",
    "pandas-engine": "arrays_zip_explode explode_outer_empty"
    " python_datasource_kvlog",
    "relational-parity": "array_set_ops grouping_id_agg"
    " json_schema_inference materialized_view_rewrite mv_auto_rewrite"
    " nested_types_roundtrip sql_scalar_macro",
}
for _cat, _names in _CATEGORY_OVERRIDES.items():
    OVERRIDES.update((n, (_cat, "")) for n in _names.split())
for _n in (
    "python_datasource_stream",
    "python_datasource_stream_sink",
    "python_datasource_writer",
):
    OVERRIDES[_n] = ("engine-contract", "Python DataSource API plumbing")

# Default categories by domain module (path under queries/) for
# everything else.
MODULE_DEFAULTS: dict[str, tuple[str, str]] = {
    "builtin_functions.collections": ("builtin-parity", ""),
    "builtin_functions.dates": ("builtin-parity", ""),
    "builtin_functions.numeric": ("builtin-parity", ""),
    "builtin_functions.strings": ("builtin-parity", ""),
    "builtin_functions.udfs": ("pandas-engine", ""),
    "events.sessions": ("builtin-parity", ""),
    "governance": ("relational-parity", ""),
    "io_catalog.ddl": ("ddl-catalog", ""),
    "io_catalog.formats": ("io-roundtrip", ""),
    "olap": ("builtin-parity", ""),
    "relational.sql": ("relational-parity", ""),
    "streaming": ("streaming-emit-contract", ""),
}

DEFAULT_REASONS = {
    "builtin-parity": "Spark builtin vs DuckDB builtin: two"
    " independent engine implementations; parity is the check",
    "relational-parity": "declarative joins/aggs/windows in two"
    " independent engines, structurally different plans, no shared"
    " hand-derived arithmetic",
    "ddl-catalog": "oracle pins literal DDL/SHOW/DESCRIBE output",
    "io-roundtrip": "write-then-read roundtrip of real files; oracle"
    " reads literal expectations",
    "engine-contract": "asserts engine machinery (plans, hints,"
    " caching, registration), not data math",
    "pandas-engine": "impl computes through pandas/Arrow (a third"
    " engine already) against a DuckDB oracle",
    "streaming-emit-contract": "oracle encodes the documented"
    " append-mode emit rule; family drain-replays cover the"
    " mechanics",
}


def classify() -> dict[str, dict]:
    from hdsp_hive_release_src_spark import registry

    out: dict[str, dict] = {}
    unclassified = []
    for name in complement():
        if name in REPLAYED_ELSEWHERE:
            out[name] = {
                "status": "replayed-elsewhere",
                "where": REPLAYED_ELSEWHERE[name],
            }
            continue
        if name in OVERRIDES:
            cat, reason = OVERRIDES[name]
            out[name] = {"status": "exempt", "category": cat,
                         "reason": reason or DEFAULT_REASONS[cat]}
            continue
        mod = registry.QUERIES[name].__module__.removeprefix(
            "hdsp_hive_release_src_spark.queries."
        )
        if mod in MODULE_DEFAULTS:
            cat, reason = MODULE_DEFAULTS[mod]
            out[name] = {
                "status": "exempt",
                "category": cat,
                "reason": reason or DEFAULT_REASONS[cat],
            }
            continue
        unclassified.append(f"{name} ({mod})")
    if unclassified:
        raise SystemExit(
            "unclassified complement names - add to OVERRIDES or"
            f" MODULE_DEFAULTS: {unclassified}"
        )
    return out


def main() -> None:
    data = classify()
    from collections import Counter

    cats = Counter(
        d.get("category", d["status"]) for d in data.values()
    )
    OUT.write_text(json.dumps(
        {"n_complement": len(data), "by_category": dict(sorted(cats.items())),
         "entries": data},
        indent=1, sort_keys=False))
    print(f"wrote {OUT}: {len(data)} names, {dict(sorted(cats.items()))}")


if __name__ == "__main__":
    main()

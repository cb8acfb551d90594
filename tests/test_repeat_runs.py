"""Every query that writes scratch files or catalog objects must be
re-runnable in the same session with an identical result — stale
file-status caches, leftover temp views, or un-dropped tables are
exactly the failure class that silently zeroed csv_permissive_parse's
corrupt count (sources.py: the refreshByPath fix).

The same holds for queries that localCheckpoint: the second call's
query boundary releases every checkpoint the first call made, so a
release that reached a live frame shows up here as an error or a
mismatch."""

from __future__ import annotations

import pytest

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"

WRITING_QUERIES = [
    "csv_permissive_parse",
    "csv_roundtrip",
    "json_roundtrip",
    "orc_roundtrip",
    "dynamic_partition_overwrite",
    "multi_insert",
    "insert_overwrite_directory",
    "regex_serde_parse",
    "partitioned_sink_prune",
    "show_partitions",
    "describe_table",
    "msck_repair_discovery",
    "bucketed_colocated_join",
    "analyze_table_stats",
    "cache_table_reuse",
    "binaryfile_source",
    "parquet_schema_merge",
    "compact_small_files",
    "metadata_columns",
]

CHECKPOINTING_QUERIES = [
    "dedup_components",
    "semantic_dedup",
    "pagerank_trade_graph",
    "heavy_hitters_topk",
]


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


@pytest.mark.parametrize("name", WRITING_QUERIES + CHECKPOINTING_QUERIES)
def test_second_run_matches_first(spark, name):
    fn = registry.QUERIES[name]
    first = sorted(map(tuple, fn(spark, SF).collect()))
    second = sorted(map(tuple, fn(spark, SF).collect()))
    assert first == second, name
    assert first, f"{name} returned no rows"

"""Import path kept for the benchmark harness: ``perfbench/workloads.py``
imports ``heavy_hitters_tokens_with_den`` from here. Its home is
``queries/text/corpus.py``; this module registers no query."""

from hdsp_hive_release_src_spark.queries.text.corpus import (  # noqa: F401
    heavy_hitters_tokens_with_den,
)

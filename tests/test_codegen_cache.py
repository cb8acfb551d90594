"""Spark's codegen class cache holds the session's working set: a warm
pass over the olap_10x queries compiles no new Janino class.

``spark.sql.codegen.cache.maxEntries`` is a static conf and the shared
test session may already hold these classes, so the check runs in a
fresh subprocess whose first session is built by ``get_spark``. It
cannot pass vacuously: pass 1 compiles more than Spark's default 100
entries, so with that default the reversed pass 2 evicts and misses.
"""

from __future__ import annotations

import subprocess
import sys

from tests.conftest import REPO, SF_SMOKE

SCRIPT = r"""
import sys
from hdsp_hive_release_src_spark import registry
from hdsp_hive_release_src_spark.session import get_spark
from perfbench.workloads import OLAP

sf_dir = sys.argv[1]
spark = get_spark(app_name="codegen-cache-test")
spark.sparkContext.setLogLevel("ERROR")
print("MAX_ENTRIES", spark.conf.get("spark.sql.codegen.cache.maxEntries"))
registry.load_all()
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
for order in (OLAP, OLAP[::-1], OLAP):
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    for name in order:
        df = registry.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    print("PASS_COMPILES", compiles.METRIC_COMPILATION_TIME().getCount() - before)
"""


def test_warm_passes_compile_no_class():
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT, SF_SMOKE],
        capture_output=True,
        text=True,
        cwd=str(REPO),
        timeout=600,
    )
    out = r.stdout.splitlines()
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-2000:])
    assert "MAX_ENTRIES 2048" in out, out
    passes = [int(s.split()[1]) for s in out if s.startswith("PASS_COMPILES")]
    assert len(passes) == 3, out
    assert passes[0] > 100, passes
    assert passes[1:] == [0, 0], passes

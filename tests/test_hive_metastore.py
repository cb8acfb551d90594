"""Hive catalog integration (the BASELINE north-star deployment
shape): a real enableHiveSupport session against an embedded Derby
metastore must serve this repo's managed-table surface — partitioned
saveAsTable, SHOW PARTITIONS, partition DDL, ANALYZE, and a catalog
that says it IS hive. Runs in a subprocess because
catalogImplementation is a static conf (the shared test session uses
the in-memory catalog)."""

from __future__ import annotations

import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SCRIPT = r"""
import sys
from hdsp_hive_release_src_spark.session import get_hive_spark

meta_dir = sys.argv[1]
spark = get_hive_spark(meta_dir)
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.sql.catalogImplementation") == "hive"

from pyspark.sql import functions as F

o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").where(
    F.col("o_orderkey") < 2000
)
spark.sql("DROP TABLE IF EXISTS hive_part_orders")
(
    o.select("o_orderkey", "o_totalprice", "o_orderpriority")
    .write.partitionBy("o_orderpriority")
    .saveAsTable("hive_part_orders")
)
parts = {
    r[0] for r in spark.sql("SHOW PARTITIONS hive_part_orders").collect()
}
assert len(parts) == 5, parts
spark.sql(
    "ALTER TABLE hive_part_orders DROP PARTITION "
    "(o_orderpriority='5-LOW')"
)
left = spark.table("hive_part_orders")
assert left.where(F.col("o_orderpriority") == "5-LOW").count() == 0
expected = o.where(F.col("o_orderpriority") != "5-LOW").count()
assert left.count() == expected, (left.count(), expected)
spark.sql("ANALYZE TABLE hive_part_orders COMPUTE STATISTICS")
provider = [
    r.data_type
    for r in spark.sql("DESCRIBE EXTENDED hive_part_orders").collect()
    if r.col_name == "Provider"
]
print("HIVE_CATALOG_OK", expected, provider)
"""


def test_hive_metastore_end_to_end():
    meta = str(REPO / "_scratch" / "hive_meta_test")
    shutil.rmtree(meta, ignore_errors=True)
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT, meta],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )
    assert "HIVE_CATALOG_OK" in r.stdout, (r.stdout[-2000:], r.stderr[-2000:])

"""Materialize a 10× replica of an sf directory for scale-stress runs.

Each replica is an INDEPENDENT shard: every id column is offset by
replica*OFF so all intra-replica join relationships (orders→customer,
lineitem→orders/part/supplier, events→customer, …) stay consistent,
giving a true 10×-rows dataset rather than a broken-FK blowup. The
documents table additionally gets replica-unique token suffixes so the
10× corpus carries 10× DISTINCT content — naive text clones would put
every doc in a 10-way near-dup cluster and benchmark the
clone-saturated worst case instead of 10× scale (that worst case has
its own measurement in SURVEY §4). Embeddings replicate as-is: ANN
cost depends on corpus size, not vector uniqueness.

The physical LAYOUT of the replica is deterministic (r13 verdict
item 3: stress-jaccard moved 2.26 → 4.0 s across a replica rebuild
with query code untouched — the unpinned write layout was the only
changed input). Every table is hash-repartitioned on its primary id
into exactly N_FILES output files, so (a) two builds from the same
source place the same rows in the same files, and (b) the scan
parallelism the 10x workloads see never silently drops (the r13
rebuild produced 10 files per table — one per union branch — which
underparallelizes a 32-thread local run; the ~600 KB documents files
additionally pack into even fewer tasks via
spark.sql.files.openCostInBytes). Per-table {files, rows, bytes} is
written to ``_LAYOUT.json`` in the destination; perfbench records its
hash in every run's environment block, so any layout drift shows in
the record.

Usage: python tools/make_stress.py [src_sf_dir] [dst_dir] [n_replicas]
Defaults: /root/testdata/sf0.1 → <repo>/_scratch/stress10x, 10.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

OFF = 100_000_000

# one file per local core at the stress tier's local[32]; at cluster
# scale this knob would be sized by target file size instead
N_FILES = 32

ID_COLS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    # l_linenumber is a within-order ordinal, not a FK — untouched
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def build(src: str, dst: str, n: int = 10) -> None:
    from pyspark.sql import functions as F

    from hdsp_hive_release_src_spark.catalog import TABLES
    from hdsp_hive_release_src_spark.session import get_spark

    spark = get_spark(app_name="make-stress")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        base = spark.read.parquet(f"{src.rstrip('/')}/{t}.parquet")
        replicas = []
        for r in range(n):
            rep = base
            for c in ID_COLS.get(t, []):
                rep = rep.withColumn(c, F.col(c) + F.lit(r * OFF))
            if t == "documents" and r > 0:
                # replica-unique tokens -> 10x distinct content
                rep = rep.withColumn(
                    "text",
                    F.regexp_replace("text", r"(\S+)", f"$1x{r}"),
                )
            replicas.append(rep)
        out = replicas[0]
        for rep in replicas[1:]:
            out = out.unionByName(rep)
        # deterministic layout: hash-partition on the primary id (the
        # first ID col — offset ids are deterministic), fixed file
        # count (see N_FILES comment)
        pk = ID_COLS[t][0]
        out.repartition(N_FILES, F.col(pk)).write.mode(
            "overwrite"
        ).parquet(f"{dst.rstrip('/')}/{t}.parquet")
        print(f"wrote {t}", file=sys.stderr)
    layout = {}
    for t in TABLES:
        d = Path(dst) / f"{t}.parquet"
        files = sorted(d.glob("*.parquet"))
        layout[t] = {
            "files": len(files),
            "bytes": sum(f.stat().st_size for f in files),
            "rows": spark.read.parquet(str(d)).count(),
        }
    (Path(dst) / "_LAYOUT.json").write_text(
        json.dumps(layout, indent=1, sort_keys=True)
    )


if __name__ == "__main__":
    repo = Path(__file__).resolve().parent.parent
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = (
        sys.argv[2]
        if len(sys.argv) > 2
        else str(repo / "_scratch" / "stress10x")
    )
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    build(src, dst, n)

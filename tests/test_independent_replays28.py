"""Independent-model replays, batch 28 (round 11): the dedup-metrics
cluster — prefix-fingerprint clusters, per-source duplication rates,
collision families with full-hash variant counts, and the train/eval
leakage audit — all rebuilt digest-for-digest with hashlib and plain
counters."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry
from hdsp_hive_release_src_spark.queries.text.dedup import PREFIX_FP_LEN

SF = "/root/testdata/sf0.001"


def _docs() -> pd.DataFrame:
    return pq.read_table(f"{SF}/documents.parquet").to_pandas()


def _pfp(t: str) -> str:
    return hashlib.md5(t[:PREFIX_FP_LEN].encode()).hexdigest()


def test_duplicate_cluster_histogram_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["duplicate_cluster_histogram"](
        spark, SF
    ).collect()
    sizes = Counter(Counter(_pfp(t) for t in _docs().text).values())
    want = [
        (s, n, s * n, (s - 1) * n) for s, n in sorted(sizes.items())
    ]
    assert [
        (r.cluster_size, r.n_clusters, r.n_docs, r.removable_docs)
        for r in rows
    ] == want
    assert any(s > 1 for s in sizes)  # real cluster structure exists


def test_dedup_rate_by_source_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["dedup_rate_by_source"](spark, SF).collect()
    d = _docs()
    per: dict = defaultdict(set)
    n_by: dict = defaultdict(int)
    for src, t in zip(d.source, d.text):
        per[src].add(_pfp(t))
        n_by[src] += 1
    assert [r.source for r in rows] == sorted(n_by)
    for r in rows:
        n, u = n_by[r.source], len(per[r.source])
        assert (r.n_docs, r.n_unique, r.n_duplicate) == (n, u, n - u)
        assert r.dup_permille == (n - u) * 1000 // n


def test_prefix_fingerprint_families_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["prefix_fingerprint_dedup"](spark, SF).collect()
    fams: dict = defaultdict(lambda: [0, set(), []])
    for i, t in zip(_docs().doc_id, _docs().text):
        cell = fams[_pfp(t)]
        cell[0] += 1
        cell[1].add(hashlib.md5(t.encode()).hexdigest())
        cell[2].append(int(i))
    want = sorted(
        (h, n, len(variants), min(ids), max(ids))
        for h, (n, variants, ids) in fams.items()
        if n > 1
    )
    assert [
        (r.fph, r.n_docs, r.n_full_variants, r.keep_doc, r.max_doc)
        for r in rows
    ] == want


def test_eval_overlap_leakage_replay(spark):
    registry.load_all()
    row = registry.QUERIES["eval_overlap_leakage"](spark, SF).collect()[0]
    per: dict = defaultdict(lambda: [0, 0])
    for i, t in zip(_docs().doc_id, _docs().text):
        is_train = (
            hashlib.md5(str(int(i)).encode()).hexdigest()[0] < "8"
        )
        per[_pfp(t)][0 if is_train else 1] += 1
    leaked = [(tr, ev) for tr, ev in per.values() if tr > 0 and ev > 0]
    assert row.n_texts == len(per)
    assert row.leaked_texts == len(leaked)
    assert row.leaked_pairs == sum(
        tr * ev for tr, ev in per.values()
    )
    assert row.contaminated_eval_docs == sum(ev for _, ev in leaked)

"""Independent-model replays, batch 27 (round 11): deterministic
sampling/splits rebuilt with hashlib (md5-nibble split assignment,
balanced per-class downsampling by hash order), the band join and the
blocked fuzzy join recomputed as per-block double loops with the
batch-13 Levenshtein DP, and the sliding-chunk dedup summary."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def test_stratified_eval_split_md5_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["stratified_eval_split"](spark, SF).collect()
    cells: dict = defaultdict(int)
    for i, lang in zip(_tbl("documents").doc_id, _tbl("documents").lang):
        nib = int(hashlib.md5(str(int(i)).encode()).hexdigest()[0], 16)
        split = "train" if nib < 13 else "val" if nib < 14 else "test"
        cells[(lang, split)] += 1
    assert {(r.lang, r.split): r.n for r in rows} == dict(cells)


def test_balanced_class_sample_hash_order_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["balanced_class_sample"](spark, SF).collect()
    d = _tbl("documents")
    by_lang: dict = defaultdict(list)
    for i, lang in zip(d.doc_id, d.lang):
        i = int(i)
        by_lang[lang].append(
            (hashlib.md5(str(i).encode()).hexdigest(), i)
        )
    target = min(len(v) for v in by_lang.values())
    assert [r.lang for r in rows] == sorted(by_lang)
    for r in rows:
        keep = sorted(by_lang[r.lang])[:target]
        assert r.n_sampled == target
        assert r.docid_sum == sum(i for _, i in keep)


def test_band_join_double_loop_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["band_join_order_pairs"](spark, SF).collect()
    o = _tbl("orders")
    o["d"] = pd.to_datetime(o.o_orderdate)
    counts: dict = defaultdict(int)
    for ck, g in o.groupby("o_custkey"):
        recs = sorted(zip(g.o_orderkey.astype(int), g.d))
        for i in range(len(recs)):
            for j in range(i + 1, len(recs)):
                if abs((recs[j][1] - recs[i][1]).days) <= 30:
                    counts[int(ck)] += 1
    want = sorted((k, n) for k, n in counts.items())
    assert [(r.custkey, r.n_pairs) for r in rows] == want


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_blocked_fuzzy_join_per_block_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["blocked_fuzzy_join"](spark, SF).collect()
    c = _tbl("customer")
    c = c[c.c_custkey < 2000]
    s = _tbl("supplier")
    by_nation: dict = defaultdict(list)
    for sk, nk, nm in zip(s.s_suppkey, s.s_nationkey, s.s_name):
        by_nation[int(nk)].append((int(sk), nm.split("#")[1]))
    want = []
    for ck, nk, nm in zip(c.c_custkey, c.c_nationkey, c.c_name):
        cname = nm.split("#")[1]
        for sk, sname in by_nation.get(int(nk), ()):
            d = _lev(cname, sname)
            if d <= 2:
                want.append((int(ck), sk, d))
    want.sort()
    assert [(r.c_custkey, r.s_suppkey, r.dist) for r in rows] == want


def test_chunk_dedup_summary_replay(spark):
    from hdsp_hive_release_src_spark.queries.text.dedup import CHUNK, STRIDE

    registry.load_all()
    row = registry.QUERIES["chunk_dedup_exact"](spark, SF).collect()[0]
    counts: dict = defaultdict(int)
    for t in _tbl("documents").text:
        ws = t.split(" ")
        for off in range(0, max(len(ws), 1), STRIDE):
            h = hashlib.md5(
                " ".join(ws[off : off + CHUNK]).encode()
            ).hexdigest()
            counts[h] += 1
    total = sum(counts.values())
    assert row.n_unique_chunks == len(counts)
    assert row.n_total_chunks == total
    assert row.n_duplicated == sum(1 for n in counts.values() if n > 1)
    assert row.n_dropped == total - len(counts)

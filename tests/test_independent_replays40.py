"""Independent-model replays, batch 40 (round 12): the
deterministic-hash cohort — queries whose spec IS a reproducible hash
assignment (shard/split/fold/sample membership). Each replay rebuilds
the assignment hash-for-hash in pure Python (hashlib md5 / int
arithmetic) and recomputes every output aggregate from it, upgrading
these entries from 'exempt: deterministic-hash' to fully replayed."""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def _r(x: float, nd: int) -> float:
    return float(
        Decimal(x).quantize(Decimal(f"1e-{nd}"), rounding=ROUND_HALF_UP)
    )


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_shard_manifest_matches_python_nibbles(spark):
    registry.load_all()
    rows = registry.QUERIES["training_shard_manifest"](
        spark, SF
    ).collect()
    d = _tbl("documents")
    agg: dict[int, list] = {}
    for doc_id, text, src in zip(d.doc_id, d.text, d.source):
        shard = (int(_md5(str(int(doc_id)))[0], 16) + 1) % 4
        cur = agg.setdefault(shard, [0, 0, set()])
        cur[0] += 1
        cur[1] += len(text.split(" "))
        cur[2].add(src)
    want = {
        s: (n, t, len(srcs)) for s, (n, t, srcs) in agg.items()
    }
    got = {
        r.shard_id: (r.n_docs, r.total_tokens, r.n_sources)
        for r in rows
    }
    assert got == want


def test_global_shuffle_matches_python_permutation(spark):
    from hdsp_hive_release_src_spark.queries.text.quality import (
        _SHUF_A,
        _SHUF_B,
        _SHUF_P,
        _SHUF_SHARDS,
    )

    registry.load_all()
    rows = registry.QUERIES["shuffle_text_global"](spark, SF).collect()
    d = _tbl("documents")
    shards: dict[int, list] = {}
    for doc_id, text in zip(d.doc_id, d.text):
        doc_id = int(doc_id)
        hv = ((_SHUF_A * doc_id + _SHUF_B) % _SHUF_P + _SHUF_P) % _SHUF_P
        n_tok = len([t for t in text.split(" ") if t])
        shards.setdefault(hv % _SHUF_SHARDS, []).append(
            (hv, doc_id, n_tok)
        )
    want = {}
    for shard, docs in shards.items():
        docs.sort()
        checksum = sum(
            pos * doc for pos, (_, doc, _) in enumerate(docs, 1)
        )
        want[shard] = (
            len(docs),
            checksum,
            docs[0][1],
            sum(t for _, _, t in docs),
        )
    got = {
        r.shard: (r.n_docs, r.perm_checksum, r.head_doc, r.total_tokens)
        for r in rows
    }
    assert got == want


def test_grouped_split_matches_python_source_hash(spark):
    registry.load_all()
    rows = registry.QUERIES["grouped_train_test_split"](
        spark, SF
    ).collect()
    d = _tbl("documents")
    agg: dict[str, list] = {}
    for src, text in zip(d.source, d.text):
        hb = int(_md5(src)[:2], 16)
        split = "eval" if hb % 5 == 0 else "train"
        cur = agg.setdefault(split, [set(), 0, 0])
        cur[0].add(src)
        cur[1] += 1
        cur[2] += len([t for t in text.split(" ") if t])
    want = {
        s: (len(srcs), n, t) for s, (srcs, n, t) in agg.items()
    }
    got = {
        r.split: (r.n_sources, r.n_docs, r.total_tokens) for r in rows
    }
    assert got == want


def test_fixed_size_sample_matches_python_bottom_k(spark):
    registry.load_all()
    row = registry.QUERIES["fixed_size_hash_sample"](spark, SF).collect()[
        0
    ]
    d = _tbl("documents")
    ranked = sorted(
        (( _md5(str(int(i))), int(i), int(c))
         for i, c in zip(d.doc_id, d.n_chars))
    )[:200]
    assert row.k == 200
    assert row.id_checksum == sum(i for _, i, _ in ranked)
    assert row.avg_chars == _r(
        sum(c for _, _, c in ranked) / 200, 4
    )
    assert row.h_lo == ranked[0][0] and row.h_hi == ranked[-1][0]


def test_kfold_matches_python_affine_hash(spark):
    from hdsp_hive_release_src_spark.queries.text.quality import (
        _KF_A,
        _KF_C,
        _KF_K,
        _KF_P,
    )

    registry.load_all()
    rows = registry.QUERIES["stratified_kfold_assignment"](
        spark, SF
    ).collect()
    d = _tbl("documents")
    per: dict[tuple, int] = {}
    tot: dict[str, int] = {}
    for doc_id, lang in zip(d.doc_id, d.lang):
        fold = (_KF_A * int(doc_id) + _KF_C) % _KF_P % _KF_K
        per[(lang, fold)] = per.get((lang, fold), 0) + 1
        tot[lang] = tot.get(lang, 0) + 1
    want = {
        (l, f): (n, n * 1000 // tot[l]) for (l, f), n in per.items()
    }
    got = {
        (r.lang, r.fold): (r.n, r.share_permille) for r in rows
    }
    assert got == want


def test_weighted_sample_matches_python_exp_clocks(spark):
    """Efraimidis-Spirakis race replayed: u from the first 12 md5
    nibbles, r = round(-ln(u)/w, 9), bottom-100 by (r, doc_id)."""
    registry.load_all()
    row = registry.QUERIES["weighted_sample_topk"](spark, SF).collect()[
        0
    ]
    d = _tbl("documents")
    raced = []
    for doc_id, w in zip(d.doc_id, d.n_chars):
        doc_id, w = int(doc_id), int(w)
        u = (int(_md5(str(doc_id))[:12], 16) + 1) / 16**12
        raced.append((round(-math.log(u) / w, 9), doc_id, w))
    raced.sort()
    top = raced[:100]
    assert row.k == 100
    assert row.id_checksum == sum(i for _, i, _ in top)
    assert row.weight_sum == sum(w for _, _, w in top)
    assert abs(row.r_lo - top[0][0]) <= 2e-9
    assert abs(row.r_hi - top[-1][0]) <= 2e-9

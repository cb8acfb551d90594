"""Independent-model replays, batch 38 (round 12): the LLM-pipeline
quality / dedup / retrieval / ANN cohort. incremental_dedup_minhash,
ann_lsh_topk and ann_product_quantization previously had NO dedicated
test at all; the rest were plan-shape-only. Every replay rebuilds the
full expected output in pure Python / dicts from the raw parquet —
inverted shingle index, BM25, DSIR and the two ANN schemes recomputed
hash-for-hash (the r11 sketch-replay discipline)."""

from __future__ import annotations

import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def _r(x: float, nd: int) -> float:
    """Spark/DuckDB round() is HALF_UP on the double's exact decimal
    value; Python's round() is half-even — mirror the engines."""
    return float(
        Decimal(x).quantize(Decimal(f"1e-{nd}"), rounding=ROUND_HALF_UP)
    )


def _shingle_sets() -> dict[int, set]:
    """Distinct word-3-gram shingles per doc — split on single space,
    empties KEPT inside grams (the impl shingles the raw split)."""
    d = _tbl("documents")
    out = {}
    for doc_id, text in zip(d.doc_id, d.text):
        ws = text.split(" ")
        grams = (
            set()
            if len(ws) < 3
            else {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        )
        out[int(doc_id)] = grams
    return out


def _capped_pair_counts(max_df: int = 1000):
    """(d1, d2) -> inter over the df-capped inverted index, plus the
    UNCAPPED per-doc sizes (the impl computes n before the cap)."""
    sh = _shingle_sets()
    sizes = {d: len(s) for d, s in sh.items()}
    df = Counter(g for s in sh.values() for g in s)
    inv: dict[str, list[int]] = {}
    for d, s in sh.items():
        for g in s:
            if 2 <= df[g] <= max_df:
                inv.setdefault(g, []).append(d)
    inter: Counter = Counter()
    for docs in inv.values():
        docs.sort()
        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                inter[(a, b)] += 1
    return inter, sizes


def test_containment_matches_dict_inverted_index(spark):
    registry.load_all()
    rows = registry.QUERIES["dedup_containment"](spark, SF).collect()
    inter, sizes = _capped_pair_counts()
    want = []
    for (a, b), n in sorted(inter.items()):
        c = n / min(sizes[a], sizes[b])
        if c >= 0.8:
            want.append((a, b, _r(c, 6)))
    got = [(r.d1, r.d2, r.containment) for r in rows]
    assert got == want


def test_incremental_minhash_matches_dict_index(spark):
    registry.load_all()
    rows = registry.QUERIES["incremental_dedup_minhash"](
        spark, SF
    ).collect()
    inter, sizes = _capped_pair_counts()
    near = {}
    for (a, b), n in inter.items():
        if a < 300 <= b and n / (sizes[a] + sizes[b] - n) >= 0.5:
            near[b] = min(near.get(b, a), a)
    d = _tbl("documents")
    want = [
        (
            int(doc),
            "near_dup_of_corpus" if int(doc) in near else "keep",
            near.get(int(doc)),
        )
        for doc in sorted(d.doc_id[d.doc_id >= 300])
    ]
    got = [
        (r.batch_doc, r.decision, r.matched_corpus_doc) for r in rows
    ]
    assert got == want


def test_repetition_score_matches_python_trigrams(spark):
    registry.load_all()
    rows = registry.QUERIES["repetition_score"](spark, SF).collect()
    d = _tbl("documents")
    want = []
    for doc_id, text in sorted(zip(d.doc_id, d.text)):
        ws = [t for t in text.split(" ") if t]
        gs = (
            []
            if len(ws) < 3
            else [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]
        )
        ratio = 0.0 if not gs else _r(1.0 - len(set(gs)) / len(gs), 6)
        want.append((int(doc_id), len(gs), ratio))
    got = [(r.doc_id, r.n_grams, r.rep_ratio) for r in rows]
    assert got == want


def test_gopher_rules_match_python_re(spark):
    registry.load_all()
    row = registry.QUERIES["gopher_quality_rules"](spark, SF).collect()[
        0
    ]
    d = _tbl("documents")
    wc = mwl = sym = allp = 0
    for text in d.text:
        ws = [t for t in text.split(" ") if t]
        n = len(ws)
        mean_wl = 0.0 if n == 0 else sum(len(t) for t in ws) / n
        stripped = re.sub(r"[^a-zA-Z0-9 ]", "", text)
        sr = (
            0.0
            if len(text) == 0
            else (len(text) - len(stripped)) / len(text)
        )
        a = 10 <= n <= 10000
        b = 2.0 <= mean_wl <= 12.0
        c = sr <= 0.30
        wc += a
        mwl += b
        sym += c
        allp += a and b and c
    assert (
        row.n_docs,
        row.pass_word_count,
        row.pass_mean_word_len,
        row.pass_symbol_ratio,
        row.pass_all,
    ) == (len(d), wc, mwl, sym, allp)


def test_dsir_matches_dict_bucket_models(spark):
    """Hash-for-hash replay: md5 bucket hashing, add-one smoothed
    bucket models, quantized log-ratios, bucket-sorted fold."""
    import hashlib

    registry.load_all()
    rows = registry.QUERIES["dsir_importance_weights"](
        spark, SF
    ).collect()
    d = _tbl("documents")
    hexd = "0123456789abcdef"

    def bucket(tok: str) -> int:
        h = hashlib.md5(tok.encode()).hexdigest()
        return hexd.index(h[0]) * 4 + hexd.index(h[1]) // 4

    per_doc: dict[int, Counter] = {}
    tgt: Counter = Counter()
    src: Counter = Counter()
    for doc_id, lang, text in zip(d.doc_id, d.lang, d.text):
        cnt = per_doc.setdefault(int(doc_id), Counter())
        for t in text.split(" "):
            if t:
                b = bucket(t)
                cnt[b] += 1
                src[b] += 1
                if lang == "en":
                    tgt[b] += 1
    tn, sn = sum(tgt.values()), sum(src.values())
    lr = {
        b: round(
            math.log(
                ((tgt.get(b, 0) + 1.0) / (tn + 64))
                / ((src[b] + 1.0) / (sn + 64))
            ),
            6,
        )
        for b in src
    }
    got = {r.doc_id: (r.n_tokens, r.dsir_logweight) for r in rows}
    assert set(got) == set(per_doc)
    for doc, cnt in per_doc.items():
        acc = 0.0
        for b in sorted(cnt):
            acc += cnt[b] * lr[b]
        assert got[doc][0] == sum(cnt.values())
        # r16: the output rounds at the exact 1e-6 grid (the grid the
        # quantized ratios already live on), so the replay fold — the
        # same doubles in the same order — must agree to the grid,
        # not the old 4dp tolerance
        assert abs(got[doc][1] - acc) <= 1.01e-6, doc


def test_bm25_matches_python_scoring(spark):
    from hdsp_hive_release_src_spark.queries.text.corpus import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    registry.load_all()
    rows = registry.QUERIES["bm25_ranked_retrieval"](spark, SF).collect()
    d = _tbl("documents")
    k1, b = float(_BM25_K1), float(_BM25_B)
    docs = []
    for doc_id, text in zip(d.doc_id, d.text):
        ws = text.split(" ")
        docs.append(
            (int(doc_id), len(ws), [ws.count(t) for t in _BM25_TERMS])
        )
    n = len(docs)
    avgdl = sum(dl for _, dl, _ in docs) / n
    dfs = [
        sum(1 for _, _, tfs in docs if tfs[i] > 0)
        for i in range(len(_BM25_TERMS))
    ]
    score = {}
    for doc_id, dl, tfs in docs:
        s = 0.0
        for i in range(len(_BM25_TERMS)):
            idf = math.log(1.0 + (n - dfs[i] + 0.5) / (dfs[i] + 0.5))
            s += (
                idf
                * (tfs[i] * (k1 + 1.0))
                / (tfs[i] + k1 * ((1.0 - b) + b * dl / avgdl))
            )
        score[doc_id] = _r(s, 6)
    top = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [(r.doc_id, r.bm25) for r in rows]
    assert len(got) == 50
    for (gd, gs), (wd, ws_) in zip(got, top):
        assert gd == wd and abs(gs - ws_) <= 1.01e-6
    # rank field: dense over strictly-greater rounded scores
    for r in rows:
        assert r.rnk == 1 + sum(
            1 for _, s in top if s > r.bm25 + 5e-7
        ), r.doc_id


def _fold_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def test_ann_lsh_matches_python_buckets(spark):
    """Hash-for-hash LSH replay: the md5-derived hyperplanes, the
    left-fold dot products, bucket sign bits, per-bucket exact cosine
    top-10 — all in pure Python floats."""
    from hdsp_hive_release_src_spark.queries.vectors import _hyperplanes

    registry.load_all()
    rows = registry.QUERIES["ann_lsh_topk"](spark, SF).collect()
    e = _tbl("embeddings")
    planes = _hyperplanes()
    vecs, nrm, buck = {}, {}, {}
    for vec_id, emb in zip(e.vec_id, e.embedding):
        v = [float(x) for x in emb]
        vecs[int(vec_id)] = v
        nrm[int(vec_id)] = math.sqrt(_fold_dot(v, v))
        buck[int(vec_id)] = sum(
            (1 << p)
            for p, plane in enumerate(planes)
            if _fold_dot(v, plane) > 0
        )
    want = []
    for q in sorted(v for v in vecs if v < 5):
        cands = []
        for c in vecs:
            if c != q and buck[c] == buck[q]:
                cos = _r(
                    _fold_dot(vecs[q], vecs[c]) / (nrm[q] * nrm[c]), 6
                )
                cands.append((cos, c))
        cands.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, c) in enumerate(cands[:10], 1):
            want.append((q, c, cos, rank))
    got = [(r.query_id, r.neighbor_id, r.cos, r.rank) for r in rows]
    assert got == want


def test_ann_pq_matches_python_adc(spark):
    """Hash-for-hash PQ replay: md5-ranked codebook, per-subspace
    argmin codes, ADC table lookups — pure Python."""
    import hashlib

    from hdsp_hive_release_src_spark.queries.vectors import (
        _PQ_DSUB,
        _PQ_K,
        _PQ_M,
        _PQ_NQ,
    )

    registry.load_all()
    rows = registry.QUERIES["ann_product_quantization"](
        spark, SF
    ).collect()
    e = _tbl("embeddings")
    vecs = {
        int(i): [float(x) for x in v]
        for i, v in zip(e.vec_id, e.embedding)
    }
    seeds = sorted(
        vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:_PQ_K]
    cents = [vecs[s] for s in seeds]

    def d2(v, m, k):
        s = 0.0
        for i in range(_PQ_DSUB):
            dlt = v[m * _PQ_DSUB + i] - cents[k][m * _PQ_DSUB + i]
            s += dlt * dlt
        return round(s, 9)

    codes = {
        vid: [
            min(range(_PQ_K), key=lambda k: (d2(v, m, k), k))
            for m in range(_PQ_M)
        ]
        for vid, v in vecs.items()
    }
    want = []
    for q in range(_PQ_NQ):
        qv = vecs[q]
        cands = []
        for c, cd in codes.items():
            if c == q:
                continue
            dist = 0.0
            for m in range(_PQ_M):
                dist += d2(qv, m, cd[m])
            cands.append((round(dist, 6), c))
        cands.sort()
        for rank, (dist, c) in enumerate(cands[:5], 1):
            want.append((q, c, dist, rank))
    got = [
        (r.query_id, r.neighbor_id, r.approx_d2, r.rank) for r in rows
    ]
    assert [(a, b, d) for a, b, _, d in got] == [
        (a, b, d) for a, b, _, d in want
    ]
    for (_, _, gd, _), (_, _, wd, _) in zip(got, want):
        assert abs(gd - wd) <= 2e-6

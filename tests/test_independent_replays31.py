"""Independent-model replays, batch 31 (round 11): the text-scoring
and incremental-dedup cluster — character-entropy gibberish scoring,
the add-one-smoothed bigram LM trained and scored in plain dicts, the
langid confusion matrix, the end-to-end quality-filter chain with a
set-based exact Jaccard replay, the cross-source near-dup matrix, and
exact incremental dedup — all without Spark or SQL machinery."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"
TOL4 = 6e-5
TOL6 = 6e-7


def _docs() -> pd.DataFrame:
    return pq.read_table(f"{SF}/documents.parquet").to_pandas()


def _shingles(t: str) -> set:
    ws = t.split(" ")
    return {
        " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
    } if len(ws) >= 3 else set()


def _jaccard_pairs(d: pd.DataFrame) -> dict:
    """Exact 3-gram-set Jaccard for all pairs (inverted index)."""
    sets = {int(i): _shingles(t) for i, t in zip(d.doc_id, d.text)}
    posting: dict = defaultdict(list)
    for i, s in sets.items():
        for g in s:
            posting[g].append(i)
    inter: dict = defaultdict(int)
    for g, ids in posting.items():
        ids.sort()
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                inter[(ids[a], ids[b])] += 1
    return {
        (a, b): n / (len(sets[a]) + len(sets[b]) - n)
        for (a, b), n in inter.items()
    }


def test_char_entropy_vs_python_counter(spark):
    registry.load_all()
    rows = registry.QUERIES["char_entropy_filter"](spark, SF).collect()
    d = _docs()
    texts = {int(i): t for i, t in zip(d.doc_id, d.text) if t}
    assert len(rows) == len(texts)
    for r in rows:
        t = texts[r.doc_id]
        freq = Counter(t)
        n = len(t)
        ent = -sum(
            (c / n) * math.log2(c / n) for c in freq.values()
        )
        assert r.n_chars == n
        assert abs(r.entropy - ent) <= TOL4


def test_bigram_lm_trained_and_scored_in_dicts(spark):
    from hdsp_hive_release_src_spark.queries.text.quality import _REF_SOURCE

    registry.load_all()
    rows = registry.QUERIES["bigram_lm_score"](spark, SF).collect()
    d = _docs()
    c2: Counter = Counter()
    c1: Counter = Counter()
    vocab = set()
    scores: dict = defaultdict(list)
    for i, src, t in zip(d.doc_id, d.source, d.text):
        ws = t.split(" ")
        bgs = list(zip(ws, ws[1:]))
        if src == _REF_SOURCE:
            for w1, w2 in bgs:
                c2[(w1, w2)] += 1
                c1[w1] += 1
                vocab.add(w2)
        else:
            scores[int(i)] = bgs
    V = len(vocab)

    def r6(x: float) -> float:
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)

    scored = []
    for i, bgs in scores.items():
        lps = [
            math.log((c2[(w1, w2)] + 1.0) / (c1[w1] + V))
            for w1, w2 in bgs
        ]
        scored.append((r6(sum(lps) / len(lps)), i, len(lps)))
    want = sorted(scored, key=lambda t: (-t[0], t[1]))[:100]
    assert [
        (r.avg_logprob, r.doc_id, r.n_bigrams) for r in rows
    ] == want


def test_langid_confusion_matrix_replay(spark):
    from hdsp_hive_release_src_spark.functions.text import LANG_STOPWORDS

    registry.load_all()
    rows = registry.QUERIES["langid_confusion_matrix"](spark, SF).collect()
    d = _docs()
    sets = {lang: set(ws) for lang, ws in LANG_STOPWORDS.items()}
    cm: dict = defaultdict(int)
    tot: dict = defaultdict(int)
    for true, t in zip(d.lang, d.text):
        ws = t.split(" ")
        hits = {
            lang: sum(1 for w in ws if w in s) for lang, s in sets.items()
        }
        best = max(hits.values())
        pred = (
            "und"
            if best == 0
            else next(l for l in LANG_STOPWORDS if hits[l] == best)
        )
        cm[(true, pred)] += 1
        tot[true] += 1
    assert {(r.true_lang, r.pred_lang): r.n for r in rows} == dict(cm)
    for r in rows:
        assert abs(
            r.recall_share - cm[(r.true_lang, r.pred_lang)] / tot[r.true_lang]
        ) <= TOL6
        assert r.is_correct == (r.true_lang == r.pred_lang)


def test_quality_filter_chain_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["quality_filter_pipeline"](spark, SF).collect()
    d = _docs()
    jac = _jaccard_pairs(d)
    dups = {b for (a, b), j in jac.items() if j >= 0.5}
    cells: dict = defaultdict(lambda: [0, 0, 0])
    for i, lang, t in zip(d.doc_id, d.lang, d.text):
        ws = t.split(" ")
        ok = len(ws) >= 30 and len(set(ws)) / len(ws) >= 0.35
        final = ok and int(i) not in dups
        cell = cells[lang]
        cell[0] += 1
        cell[1] += ok
        cell[2] += final
    assert [r.lang for r in rows] == sorted(cells)
    for r in rows:
        n, nq, nf = cells[r.lang]
        assert (r.n_raw, r.n_quality, r.n_final) == (n, nq, nf)
        assert abs(r.retention - nf / n) <= TOL4


def test_cross_source_matrix_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["cross_source_dedup_matrix"](spark, SF).collect()
    d = _docs()
    jac = _jaccard_pairs(d)
    src = dict(zip(d.doc_id.astype(int), d.source))
    cells: dict = defaultdict(int)
    for (a, b), j in jac.items():
        if j >= 0.5:
            s1, s2 = sorted((src[a], src[b]))
            cells[(s1, s2)] += 1
    assert {
        (r.source_a, r.source_b): r.n_pairs for r in rows
    } == dict(cells)
    assert cells  # the matrix must be non-vacuous


def test_incremental_dedup_replay(spark):
    registry.load_all()
    rows = registry.QUERIES["incremental_dedup"](spark, SF).collect()
    d = _docs()
    corpus = {
        hashlib.md5(t.encode()).hexdigest()
        for i, t in zip(d.doc_id, d.text)
        if i < 300
    }
    seen: set = set()
    want = []
    batch = sorted(
        (int(i), hashlib.md5(t.encode()).hexdigest())
        for i, t in zip(d.doc_id, d.text)
        if i >= 300
    )
    for i, h in batch:
        if h in corpus:
            want.append((i, "dup_of_corpus"))
        elif h in seen:
            want.append((i, "dup_in_batch"))
        else:
            want.append((i, "keep"))
        seen.add(h)
    assert [(r.doc_id, r.decision) for r in rows] == want

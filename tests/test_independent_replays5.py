"""Independent-model replays, batch 5 (round 10): text scoring, PII
scanning, market-basket metrics, link prediction, greedy selection,
and phonetic blocking recomputed from raw parquet in plain Python —
including a from-scratch American Soundex checked against Spark's
builtin."""

from __future__ import annotations

import json
import math
import re
from collections import Counter, defaultdict

import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _luhn_ok(digits: str) -> bool:
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = int(ch)
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def test_luhn_scan_matches_python_replay(spark):
    registry.load_all()
    rows = {
        r.source: r
        for r in registry.QUERIES["creditcard_luhn_scan"](
            spark, SF
        ).collect()
    }
    d = _tbl("documents")
    want: dict = defaultdict(lambda: [0, 0, 0])
    for doc_id, source, text in zip(d.doc_id, d.source, d.text):
        b15 = "4" + str(doc_id * 37 % 100_000_000_000_000).zfill(14)
        # valid check digit, then the shifted-by-5 invalid variant
        s = sum(
            (lambda x: x - 9 if x > 9 else x)(int(c) * 2)
            if i % 2 == 0
            else int(c)
            for i, c in enumerate(reversed(b15))
        )
        check = (10 - s % 10) % 10
        if doc_id % 5 == 0:
            t2 = f"{text} card {b15}{check}"
        elif doc_id % 5 == 1:
            t2 = f"{text} card {b15}{(check + 5) % 10}"
        else:
            t2 = text
        m = re.search(r"4[0-9]{15}", t2)
        b = want[source]
        b[0] += 1
        if m:
            b[1] += 1
            if _luhn_ok(m.group(0)):
                b[2] += 1
    assert set(rows) == set(want)
    for src, (n, cand, valid) in want.items():
        r = rows[src]
        assert (r.n_docs, r.n_candidates, r.n_luhn_valid) == (
            n,
            cand,
            valid,
        )
    # the scan itself must be non-vacuous (regexp_extract takes the
    # FIRST match, and document text can carry its own digit runs, so
    # per-source valid counts may legitimately be zero)
    assert sum(r.n_candidates for r in rows.values()) > 0


def test_histogram2d_matches_python_replay(spark):
    registry.load_all()
    rows = {
        (r.price_bin, r.size_bin): r.n
        for r in registry.QUERIES["histogram2d_bins"](
            spark, SF
        ).collect()
    }
    p = _tbl("part")
    want: Counter = Counter()
    for price, size in zip(p.p_retailprice, p.p_size):
        cents = math.floor(float(price) * 100 + 0.5)
        want[(cents // 20000, (int(size) - 1) // 10)] += 1
    assert rows == dict(want)


def test_readability_bands_match_python_replay(spark):
    registry.load_all()
    rows = {
        r.band: r
        for r in registry.QUERIES["readability_proxy_bands"](
            spark, SF
        ).collect()
    }
    d = _tbl("documents")
    per_band: dict = defaultdict(list)
    for text in d.text:
        words = len([w for w in text.split(" ") if w])
        if words == 0:
            continue
        syll = len(re.findall(r"[aeiou]+", text.lower()))
        sents = max(1, words // 15)
        flesch = (
            206835
            - _trunc_div(1015 * _trunc_div(words * 1000, sents), 1000)
            - _trunc_div(84600 * _trunc_div(syll * 1000, words), 1000)
        )
        per_band[_trunc_div(flesch, 10000)].append(flesch)
    assert set(rows) == set(per_band)
    for band, vals in per_band.items():
        r = rows[band]
        assert (r.docs, r.min_milli, r.max_milli) == (
            len(vals),
            min(vals),
            max(vals),
        )


def test_association_rules_match_python_replay(spark):
    from hdsp_hive_release_src_spark.queries.stats.inference import (
        RULES_MIN_SUPPORT,
    )

    registry.load_all()
    rows = {
        (r.i1, r.i2): r
        for r in registry.QUERIES["association_rules_lift"](
            spark, SF
        ).collect()
    }
    ev = _tbl("events")
    ev = ev[ev.event_type == "purchase"]
    baskets: dict = defaultdict(set)
    for uid, props in zip(ev.user_id, ev.props):
        item = json.loads(props).get("k")
        if item is not None:
            baskets[uid].add(int(item))
    baskets = {
        u: items
        for u, items in baskets.items()
        if 2 <= len(items) <= 200
    }
    n = len(baskets)
    isup: Counter = Counter()
    psup: Counter = Counter()
    for items in baskets.values():
        ss = sorted(items)
        for it in ss:
            isup[it] += 1
        for i, a in enumerate(ss):
            for b in ss[i + 1 :]:
                psup[(a, b)] += 1
    want = {}
    for (a, b), sab in psup.items():
        if sab >= RULES_MIN_SUPPORT:
            want[(a, b)] = (
                sab,
                isup[a],
                isup[b],
                sab * 1000 // isup[a],
                sab * n * 1000 // (isup[a] * isup[b]),
            )
    assert set(rows) == set(want)
    for k, (sab, s1, s2, conf, lift) in want.items():
        r = rows[k]
        assert (
            r.sup_ab,
            r.sup_i1,
            r.sup_i2,
            r.conf_permille,
            r.lift_milli,
        ) == (sab, s1, s2, conf, lift)


def test_ra_link_prediction_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.queries.graph import (
        RA_CUST_BOUND,
        RA_DEG_CAP,
        RA_TOP,
    )

    registry.load_all()
    rows = [
        (r.c1, r.c2, r.common_n, r.ra_micro, r.jaccard_permille)
        for r in registry.QUERIES["ra_link_prediction"](
            spark, SF
        ).collect()
    ]
    o = _tbl("orders")
    li = _tbl("lineitem")
    j = o[o.o_custkey < RA_CUST_BOUND].merge(
        li, left_on="o_orderkey", right_on="l_orderkey"
    )
    pairs = set(zip(j.o_custkey, j.l_suppkey))
    ds: Counter = Counter(s for _c, s in pairs)
    dc: Counter = Counter(c for c, _s in pairs)
    by_sup: dict = defaultdict(list)
    for c, s in pairs:
        if ds[s] <= RA_DEG_CAP:
            by_sup[s].append(c)
    common: Counter = Counter()
    ra: Counter = Counter()
    for s, custs in by_sup.items():
        cs = sorted(custs)
        for i, c1 in enumerate(cs):
            for c2 in cs[i + 1 :]:
                common[(c1, c2)] += 1
                ra[(c1, c2)] += 1_000_000 // ds[s]
    scored = [
        (
            c1,
            c2,
            common[(c1, c2)],
            ra[(c1, c2)],
            common[(c1, c2)]
            * 1000
            // (dc[c1] + dc[c2] - common[(c1, c2)]),
        )
        for (c1, c2) in common
    ]
    scored.sort(key=lambda t: (-t[3], t[0], t[1]))
    assert rows == scored[:RA_TOP]


def test_budget_greedy_matches_python_replay(spark):
    registry.load_all()
    rows = {
        r.lang: r
        for r in registry.QUERIES["budget_greedy_selection"](
            spark, SF
        ).collect()
    }
    d = _tbl("documents")
    docs = []
    for doc_id, lang, text in zip(d.doc_id, d.lang, d.text):
        toks = [w for w in text.split(" ") if w]
        score = len(set(toks)) * 1000 // len(toks)
        docs.append((doc_id, lang, len(toks), score))
    total = sum(t[2] for t in docs)
    docs.sort(key=lambda t: (-t[3], t[0]))
    cum = 0
    agg: dict = defaultdict(lambda: [0, 0, []])
    for _doc_id, lang, toks, score in docs:
        cum += toks
        if cum * 2 <= total:
            a = agg[lang]
            a[0] += 1
            a[1] += toks
            a[2].append(score)
    assert set(rows) == set(agg)
    for lang, (nsel, tok, scores) in agg.items():
        r = rows[lang]
        assert (
            r.n_selected,
            r.tokens_selected,
            r.min_score_admitted,
        ) == (nsel, tok, min(scores))


_SX_FROM = "AEIOUYHWBFPVCGJKQSXZDTLMNR"
_SX_TO = "~~~~~~--111122222222334556"
_SX_TR = str.maketrans(_SX_FROM, _SX_TO)


def _soundex(w: str) -> str:
    s = w.upper()
    d2 = s.translate(_SX_TR).replace("-", "")  # H/W transparent
    collapsed = "".join(
        ch for i, ch in enumerate(d2) if i == 0 or ch != d2[i - 1]
    )
    fc = s[0].translate(_SX_TR)
    digits_all = collapsed.replace("~", "")
    rest = digits_all[1:] if fc in "123456" else digits_all
    return s[0] + rest[:3].ljust(3, "0")


def test_soundex_blocking_matches_python_soundex(spark):
    registry.load_all()
    rows = {
        r.code: r
        for r in registry.QUERIES["soundex_phonetic_blocking"](
            spark, SF
        ).collect()
    }
    p = _tbl("part")
    words = set()
    for name in p.p_name:
        for w in name.split(" "):
            if re.fullmatch(r"[a-zA-Z]+", w):
                words.add(w)
    blocks: dict = defaultdict(list)
    for w in words:
        blocks[_soundex(w)].append(w)
    want = {
        code: sorted(ws)
        for code, ws in blocks.items()
        if len(ws) > 1
    }
    assert set(rows) == set(want)
    for code, ws in want.items():
        assert rows[code].n_words == len(ws)
        assert rows[code].words == ",".join(ws)

"""Independent-model replays, batch 6 (round 10): sequential pattern
matching, iterative k-core peeling, RAKE keyword extraction,
g-computation ATE, and multibyte length semantics recomputed from raw
parquet in plain Python."""

from __future__ import annotations

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


def test_funnel_pattern_match_matches_python_replay(spark):
    registry.load_all()
    rows = {
        (r.strict_funnels, r.skip_funnels): r.users
        for r in registry.QUERIES["funnel_pattern_match"](
            spark, SF
        ).collect()
    }
    ev = _tbl("events").sort_values(["user_id", "ts", "event_id"])
    want: Counter = Counter()
    for _uid, g in ev.groupby("user_id"):
        s = "".join(t[0] for t in g.event_type)
        strict = (len(s) - len(s.replace("vcp", ""))) // 3
        skip = len(re.findall(r"v[^p]*c[^p]*p", s))
        want[(strict, skip)] += 1
    assert rows == dict(want)


def test_kcore_peeling_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.queries.graph import KCORE_K, KCORE_ROUNDS

    registry.load_all()
    rows = {
        r.round: r
        for r in registry.QUERIES["kcore_peeling_profile"](
            spark, SF
        ).collect()
    }
    o = _tbl("orders")
    li = _tbl("lineitem")
    j = o[o.o_custkey < 60].merge(
        li, left_on="o_orderkey", right_on="l_orderkey"
    )
    pairs = set(zip(j.o_custkey, j.l_suppkey))
    edges = [(f"c{c}", f"s{s}") for c, s in pairs]
    edges += [(b, a) for a, b in edges]
    alive = None
    profile = {}
    prev_nodes = None
    for i in range(1, KCORE_ROUNDS + 1):
        live = (
            edges
            if alive is None
            else [
                (a, b) for a, b in edges if a in alive and b in alive
            ]
        )
        deg: Counter = Counter(a for a, _b in live)
        nxt = {n for n, d in deg.items() if d >= KCORE_K}
        profile[i] = (len(nxt), len(live))
        if i == KCORE_ROUNDS - 1:
            prev_nodes = len(nxt)
        alive = nxt
    converged = prev_nodes == profile[KCORE_ROUNDS][0]
    assert set(rows) == set(profile)
    for i, (nodes, live_edges) in profile.items():
        r = rows[i]
        assert (r.nodes, r.live_edges, r.converged) == (
            nodes,
            live_edges,
            converged,
        )


def test_rake_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.functions.text import STOPWORDS_EN
    from hdsp_hive_release_src_spark.queries.text.corpus import (
        RAKE_MAX_LEN,
        RAKE_MIN_LEN,
        RAKE_TOP,
    )

    registry.load_all()
    rows = [
        (r.phrase, r.phrase_len, r.n_occurrences, r.score_milli)
        for r in registry.QUERIES["rake_keyword_phrases"](
            spark, SF
        ).collect()
    ]
    d = _tbl("documents")
    stop = set(STOPWORDS_EN)
    # phrase islands: maximal runs of kept (non-stop, non-empty)
    # tokens, length-banded
    occurrences = []  # (tokens, doc)
    for text in d[d.lang == "en"].text:
        raw = text.split(" ")
        nonstop = [
            (i, w) for i, w in enumerate(raw) if w and w not in stop
        ]
        groups: dict = defaultdict(list)
        for rn, (i, w) in enumerate(nonstop, start=1):
            groups[i - rn].append(w)
        for toks in groups.values():
            if RAKE_MIN_LEN <= len(toks) <= RAKE_MAX_LEN:
                occurrences.append(toks)
    wdeg: Counter = Counter()
    wfreq: Counter = Counter()
    for toks in occurrences:
        for w in toks:
            wdeg[w] += len(toks)
            wfreq[w] += 1
    wscore = {
        w: wdeg[w] * 1000 // wfreq[w] for w in wdeg
    }
    agg: dict = defaultdict(lambda: [0, 0])
    for toks in occurrences:
        phrase = " ".join(toks)
        sc = sum(wscore[w] for w in toks)
        a = agg[(phrase, len(toks))]
        a[0] += 1
        a[1] = max(a[1], sc)
    want = sorted(
        (
            (phrase, plen, n, sc)
            for (phrase, plen), (n, sc) in agg.items()
        ),
        key=lambda t: (-t[3], t[0]),
    )[:RAKE_TOP]
    assert rows == want


def test_stratified_ate_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.functions.hashing import CMS_P
    from hdsp_hive_release_src_spark.queries.stats.inference import (
        ATE_A,
        ATE_B,
    )

    registry.load_all()
    rows = {
        r.stratum: r
        for r in registry.QUERIES["stratified_ate_gcomputation"](
            spark, SF
        ).collect()
    }
    ev = _tbl("events")
    ev["cents"] = (ev.value * 100).round().astype("int64")
    st: dict = defaultdict(lambda: [0, 0, 0, 0])  # nt nc st sc
    for et, uid, cents in zip(ev.event_type, ev.user_id, ev.cents):
        t = (ATE_A * int(uid) + ATE_B) % CMS_P % 2
        b = st[et]
        if t == 1:
            b[0] += 1
            b[2] += int(cents)
        else:
            b[1] += 1
            b[3] += int(cents)
    st = {k: v for k, v in st.items() if v[0] > 0 and v[1] > 0}
    wsum = wden = 0
    tot = [0, 0, 0, 0]
    for et, (nt, nc, s_t, s_c) in st.items():
        eff = _trunc_div(s_t, nt) - _trunc_div(s_c, nc)
        r = rows[et]
        assert (
            r.n_treat,
            r.n_ctrl,
            r.mean_treat_cents,
            r.mean_ctrl_cents,
            r.effect_cents,
        ) == (nt, nc, _trunc_div(s_t, nt), _trunc_div(s_c, nc), eff)
        wsum += (nt + nc) * eff
        wden += nt + nc
        for i, v in enumerate((nt, nc, s_t, s_c)):
            tot[i] += v
    r = rows["_all"]
    assert (r.n_treat, r.n_ctrl) == (tot[0], tot[1])
    assert r.mean_treat_cents == _trunc_div(tot[2], tot[0])
    assert r.mean_ctrl_cents == _trunc_div(tot[3], tot[1])
    assert r.effect_cents == _trunc_div(wsum, wden)
    assert set(rows) == set(st) | {"_all"}


def test_multibyte_lengths_match_python_replay(spark):
    registry.load_all()
    rows = {
        r.p_brand: r
        for r in registry.QUERIES["multibyte_length_semantics"](
            spark, SF
        ).collect()
    }
    p = _tbl("part")
    want: dict = defaultdict(lambda: [0, 0, 0, 0])
    for brand, name in zip(p.p_brand, p.p_name):
        s = name.replace("a", "é")
        b = want[brand]
        b[0] += 1
        b[1] += len(s)
        b[2] += len(s.encode("utf-8"))
        b[3] += 8 * len(s.encode("utf-8"))
    assert set(rows) == set(want)
    for brand, (n, chars, byts, bits) in want.items():
        r = rows[brand]
        assert (r.n, r.sum_chars, r.sum_bytes, r.sum_bits) == (
            n,
            chars,
            byts,
            bits,
        )

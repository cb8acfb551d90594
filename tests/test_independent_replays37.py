"""Independent-model replays, batch 37 (round 12): the round-8
nonparametric statistics and the round-9c corpus-linguistics cohort —
previously covered by bounds/identity tests only. Each test recomputes
the full expected output from raw parquet through a different engine
and, where the impl uses a rearranged formula, a different algebraic
path (pandas average ranks for Mann-Whitney, np.corrcoef for the
Pearson quotients, the DEFINITIONAL full-vocabulary JSD instead of the
analytic absent-mass fold)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def test_mann_whitney_matches_pandas_average_ranks(spark):
    """Impl doubles ranks to stay integral; the replay uses pandas'
    rank(method='average') floats and the textbook U = R − n(n+1)/2."""
    registry.load_all()
    row = registry.QUERIES["mann_whitney_u"](spark, SF).collect()[0]
    o = _tbl("orders")
    o = o[
        (o.o_orderkey < 6000)
        & o.o_orderpriority.isin(["1-URGENT", "5-LOW"])
    ].copy()
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    o["r"] = o.cents.rank(method="average")
    a = o[o.o_orderpriority == "1-URGENT"]
    b = o[o.o_orderpriority == "5-LOW"]
    n_a, n_b = len(a), len(b)
    u_a = a.r.sum() - n_a * (n_a + 1) / 2
    u_b = b.r.sum() - n_b * (n_b + 1) / 2
    assert (row.n_a, row.n_b) == (n_a, n_b)
    assert row.u_a == u_a and row.u_b == u_b
    assert row.u_a + row.u_b == n_a * n_b


def test_ks_two_sample_matches_numpy_ecdf(spark):
    registry.load_all()
    row = registry.QUERIES["ks_two_sample"](spark, SF).collect()[0]
    o = _tbl("orders")
    x1 = np.sort(o.loc[o.o_orderstatus == "F", "o_totalprice"].values)
    x2 = np.sort(o.loc[o.o_orderstatus != "F", "o_totalprice"].values)
    n1, n2 = len(x1), len(x2)
    grid = np.unique(np.concatenate([x1, x2]))
    f1 = np.searchsorted(x1, grid, side="right")
    f2 = np.searchsorted(x2, grid, side="right")
    dn = np.abs(n2 * f1.astype("int64") - n1 * f2.astype("int64"))
    d_num = int(dn.max())
    assert (row.n_a, row.n_b) == (n1, n2)
    assert row.d_num == d_num
    assert row.ks_permille == d_num * 1000 // (n1 * n2)
    assert row.ks_at_value == float(grid[np.argmax(dn)])


def test_autocorr_matches_numpy_corrcoef(spark):
    """Impl reports the n·Σxy − Σx·Σy rearrangement over exact ints;
    the replay builds the calendar-lagged pairs in pandas and takes
    np.corrcoef — a centered float path."""
    registry.load_all()
    rows = registry.QUERIES["autocorr_daily_events"](
        spark, SF
    ).collect()
    e = _tbl("events")
    daily = (
        e.groupby(pd.to_datetime(e.ts).dt.date).size().sort_index()
    )
    c = {d: int(v) for d, v in daily.items()}
    assert len(rows) == 7
    import datetime as dt

    for r in rows:
        k = r.lag
        xs, ys = [], []
        for d, v in c.items():
            d2 = d + dt.timedelta(days=int(k))
            if d2 in c:
                xs.append(v)
                ys.append(c[d2])
        x, y = np.array(xs, "int64"), np.array(ys, "int64")
        n = len(x)
        assert r.n_pairs == n
        assert r.cov_num == n * int((x * y).sum()) - int(
            x.sum()
        ) * int(y.sum())
        assert abs(r.acf - np.corrcoef(x, y)[0, 1]) <= 2e-6


def test_bootstrap_ci_matches_pure_python_resample(spark):
    """Hash-for-hash replay of the deterministic membership plus the
    order statistics in plain Python dicts."""
    from hdsp_hive_release_src_spark.queries.stats.inference import (
        _BOOT_A,
        _BOOT_B,
        _BOOT_P,
    )

    registry.load_all()
    row = registry.QUERIES["bootstrap_ci_mean"](spark, SF).collect()[0]
    o = _tbl("orders")
    o = o[o.o_orderkey < 8000]
    cents = {
        int(k): int(v)
        for k, v in zip(o.o_orderkey, (o.o_totalprice * 100).round())
    }
    means = []
    for b in range(_BOOT_B):
        sel = [
            v
            for k, v in cents.items()
            if (_BOOT_A * (k + 131 * (b + 1))) % _BOOT_P % 2 == 0
        ]
        means.append((sum(sel) // len(sel), b))
    means.sort()
    assert row.n_replicates == _BOOT_B
    assert row.ci_lo_cents == means[1][0]
    assert row.ci_hi_cents == means[_BOOT_B - 2][0]
    assert row.mean_of_means_cents == sum(m for m, _ in means) // _BOOT_B


def test_assortativity_matches_numpy_corrcoef(spark):
    registry.load_all()
    row = registry.QUERIES["degree_assortativity"](spark, SF).collect()[
        0
    ]
    o = _tbl("orders")
    li = _tbl("lineitem")
    m = o[o.o_custkey < 60].merge(
        li, left_on="o_orderkey", right_on="l_orderkey"
    )
    pairs = {
        (f"c{c}", f"s{s}") for c, s in zip(m.o_custkey, m.l_suppkey)
    }
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    deg = Counter(src for src, _ in edges)
    x = np.array([deg[s] for s, _ in edges], float)
    y = np.array([deg[d] for _, d in edges], float)
    assert row.n_directed_edges == len(edges)
    assert math.isclose(
        row.assortativity,
        float(np.corrcoef(x, y)[0, 1]),
        rel_tol=1e-9,
        abs_tol=1e-12,
    )


def _source_word_counts() -> dict[str, Counter]:
    d = _tbl("documents")
    per: dict[str, Counter] = {}
    for src, text in zip(d.source, d.text):
        cnt = per.setdefault(src, Counter())
        for w in text.split(" "):
            if w:
                cnt[w] += 1
    return per


def test_jsd_matches_definitional_full_vocab_fold(spark):
    """The impl folds absent-from-source mass analytically as
    ln2·(1−Σq); the replay materializes the FULL corpus vocabulary and
    computes the definitional 0.5·KL(P||M) + 0.5·KL(Q||M) — if the
    analytic fold were wrong by any factor, these would diverge."""
    registry.load_all()
    rows = registry.QUERIES["jensen_shannon_drift"](spark, SF).collect()
    per = _source_word_counts()
    corpus = Counter()
    for cnt in per.values():
        corpus.update(cnt)
    ct = sum(corpus.values())
    got = {r.source: (r.js_nats, r.n_terms) for r in rows}
    assert set(got) == set(per)
    for src, cnt in per.items():
        tot = sum(cnt.values())
        js = 0.0
        for w, cc in corpus.items():
            p = cnt.get(w, 0) / tot
            q = cc / ct
            mm = (p + q) / 2
            if p > 0:
                js += 0.5 * p * math.log(p / mm)
            if q > 0:
                js += 0.5 * q * math.log(q / mm)
        assert abs(got[src][0] - js) <= 1.01e-6, src
        assert got[src][1] == len(cnt), src


def test_hapax_matches_dict_counts(spark):
    registry.load_all()
    rows = registry.QUERIES["hapax_legomena_ratio"](spark, SF).collect()
    d = _tbl("documents")
    per: dict[str, Counter] = {}
    for src, text in zip(d.source, d.text):
        cnt = per.setdefault(src, Counter())
        for w in text.lower().split(" "):
            if w:
                cnt[w] += 1
    got = {
        r.source: (r.n_tokens, r.n_types, r.n_hapax, r.hapax_permille)
        for r in rows
    }
    want = {}
    for src, cnt in per.items():
        hap = sum(1 for c in cnt.values() if c == 1)
        want[src] = (
            sum(cnt.values()),
            len(cnt),
            hap,
            hap * 1000 // len(cnt),
        )
    assert got == want


def test_ttr_buckets_match_per_doc_python(spark):
    registry.load_all()
    rows = registry.QUERIES["type_token_ratio_buckets"](
        spark, SF
    ).collect()
    d = _tbl("documents")
    agg: dict[int, list[int]] = {}
    for text in d.text:
        toks = [w for w in text.split(" ") if w]
        t, v = len(toks), len(set(toks))
        b = min(t // 10, 9)
        cur = agg.setdefault(b, [0, 0, 0])
        cur[0] += 1
        cur[1] += t
        cur[2] += v
    got = {
        r.bucket: (r.n_docs, r.sum_tokens, r.sum_distinct, r.ttr_permille)
        for r in rows
    }
    want = {
        b: (n, st, sv, sv * 1000 // st)
        for b, (n, st, sv) in agg.items()
    }
    assert got == want


def test_zipf_matches_dict_ranking(spark):
    registry.load_all()
    rows = registry.QUERIES["zipf_rank_frequency"](spark, SF).collect()
    d = _tbl("documents")
    freq = Counter(
        w for text in d.text for w in text.split(" ") if w
    )
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    fmax = ranked[0][1]
    want = [
        (i + 1, w, f, fmax * 1000 // ((i + 1) * f))
        for i, (w, f) in enumerate(ranked[:50])
    ]
    got = [(r.rnk, r.token, r.freq, r.zipf_ratio_permille) for r in rows]
    assert got == want

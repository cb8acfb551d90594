"""Independent-model replays for integer-exact statistics (round-10
extension of the Bollinger discipline, r9 verdict item 5): each test
recomputes a query's output from the raw parquet with plain
Python/pandas/numpy — no shared SQL identity, no Spark window — and
requires exact (or float-tolerance) agreement. An implementation and
oracle that share a wrong factor pass the driver's parity gate; they
cannot pass these."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def _orders_cents() -> pd.DataFrame:
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    return o


def test_roc_auc_matches_brute_pair_model(spark):
    registry.load_all()
    row = registry.QUERIES["roc_auc_exact"](spark, SF).collect()[0]
    o = _orders_cents()
    pos = o.loc[o.o_orderstatus == "F", "cents"].to_numpy()
    neg = o.loc[o.o_orderstatus != "F", "cents"].to_numpy()
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    wins = ties = 0
    # chunked broadcast keeps the pos x neg matrix small
    for i in range(0, len(pos), 256):
        blk = pos[i : i + 256, None]
        wins += int((blk > neg[None, :]).sum())
        ties += int((blk == neg[None, :]).sum())
    # AUC = (wins + ties/2) / (np*nn); impl emits floor(AUC*1000)
    assert row.auc_permille == (2 * wins + ties) * 500 // (
        len(pos) * len(neg)
    )


def test_mann_kendall_matches_brute_model(spark):
    registry.load_all()
    row = registry.QUERIES["mann_kendall_trend"](spark, SF).collect()[0]
    o = _orders_cents()
    daily = (
        o.groupby("o_orderdate")["cents"].sum().sort_index().to_numpy()
    )
    nd = len(daily)
    sgn = np.sign(daily[None, :] - daily[:, None])
    iu = np.triu_indices(nd, k=1)
    s_stat = int(sgn[iu].sum())
    tie_term = sum(
        t * (t - 1) * (2 * t + 5)
        for t in Counter(daily.tolist()).values()
        if t > 1
    )
    var18 = nd * (nd - 1) * (2 * nd + 5) - tie_term
    assert row.n_days == nd
    assert row.s_stat == s_stat
    assert row.n_pairs == nd * (nd - 1) // 2
    assert row.var18 == var18
    cc = 1 if s_stat > 0 else (-1 if s_stat < 0 else 0)
    z = (s_stat - cc) / math.sqrt(var18 / 18.0)
    assert abs(row.z_stat - z) < 1e-9


def test_markov_two_step_matches_python_replay(spark):
    registry.load_all()
    rows = {
        (r.from_type, r.to_type): r
        for r in registry.QUERIES["markov_two_step"](
            spark, SF
        ).collect()
    }
    ev = _tbl("events").sort_values(["user_id", "ts", "event_id"])
    trans: Counter = Counter()
    for _, g in ev.groupby("user_id"):
        types = g.event_type.tolist()
        ts = g.ts.tolist()
        for i in range(len(types) - 1):
            if (ts[i + 1] - ts[i]).total_seconds() <= 1800:
                trans[(types[i], types[i + 1])] += 1
    row_tot: Counter = Counter()
    for (a, _b), n in trans.items():
        row_tot[a] += n
    p1 = {
        (a, b): n * 1000 // row_tot[a] for (a, b), n in trans.items()
    }
    p2: Counter = Counter()
    for (a, b), px in p1.items():
        for (b2, c), py in p1.items():
            if b2 == b:
                p2[(a, c)] += px * py
    assert set(rows) == set(p2)
    for (a, c), micro in p2.items():
        assert rows[(a, c)].p2_micro == micro
        assert rows[(a, c)].p1_micro == p1.get((a, c), 0) * 1000


def test_theil_matches_python_replay(spark):
    registry.load_all()
    row = registry.QUERIES["theil_index_inequality"](
        spark, SF
    ).collect()[0]
    o = _orders_cents()
    x = o.groupby("o_custkey")["cents"].sum().to_numpy()
    nc, tot = len(x), int(x.sum())
    r = x * nc / tot
    theil = float((r * np.log(r)).sum() / nc)
    assert row.n_customers == nc
    assert abs(row.theil_t - theil) < 2e-6


def test_fleiss_kappa_matches_python_replay(spark):
    registry.load_all()
    row = registry.QUERIES["fleiss_kappa_raters"](spark, SF).collect()[0]
    d = _tbl("documents")
    k = (
        (d.n_chars >= 300).astype(int)
        + (d.text.str.count(" ") >= 45).astype(int)
        + (d.text.str.len() >= 250).astype(int)
    ).to_numpy()
    n = len(k)
    sum_true = int(k.sum())
    # per-item pairwise agreement among 3 raters over 2 categories:
    # P_i = (k_i^2 + (3-k_i)^2 - 3) / 6
    pbar = float((k**2 + (3 - k) ** 2 - 3).sum()) / (n * 6)
    p = sum_true / (3 * n)
    pbar_e = p * p + (1 - p) * (1 - p)
    kappa = (pbar - pbar_e) / (1 - pbar_e)
    assert row.n_items == n
    assert row.sum_true == sum_true
    assert abs(row.fleiss_kappa - kappa) < 1e-9


def test_abtest_ztest_matches_python_replay(spark):
    registry.load_all()
    row = registry.QUERIES["abtest_proportions_ztest"](
        spark, SF
    ).collect()[0]
    ev = _tbl("events")
    per = ev.groupby("user_id").agg(
        total=("event_type", "size"),
        purch=("event_type", lambda s: int((s == "purchase").sum())),
    )
    per["converted"] = (per.purch * 5 > per.total).astype(int)
    per["grp"] = per.index % 2
    g = per.groupby("grp")["converted"].agg(["size", "sum"])
    na, xa = int(g.loc[0, "size"]), int(g.loc[0, "sum"])
    nb, xb = int(g.loc[1, "size"]), int(g.loc[1, "sum"])
    assert (row.na, row.xa, row.nb, row.xb) == (na, xa, nb, xb)
    pp = (xa + xb) / (na + nb)
    z = (xa / na - xb / nb) / math.sqrt(
        pp * (1 - pp) * (1 / na + 1 / nb)
    )
    assert abs(row.z_stat - z) < 1e-9


def test_largest_remainder_matches_python_replay(spark):
    registry.load_all()
    rows = {
        r.pri: r
        for r in registry.QUERIES["largest_remainder_allocation"](
            spark, SF
        ).collect()
    }
    o = _orders_cents()
    g = o.groupby("o_orderpriority")["cents"].sum()
    tot = int(g.sum())
    base = {p: int(c) * 10000 // tot for p, c in g.items()}
    rem = {p: int(c) * 10000 % tot for p, c in g.items()}
    left = 10000 - sum(base.values())
    order = sorted(g.index, key=lambda p: (-rem[p], p))
    alloc = {
        p: base[p] + (1 if i < left else 0)
        for i, p in enumerate(order)
    }
    assert set(rows) == set(alloc)
    for p, a in alloc.items():
        assert rows[p].allocation == a
        assert rows[p].cents == int(g[p])
    assert sum(alloc.values()) == 10000


def test_rsi_matches_pandas_rolling_replay(spark):
    from hdsp_hive_release_src_spark.queries.events.timeseries import TA_WIN

    registry.load_all()
    rows = {
        r.d: r
        for r in registry.QUERIES["rsi_indicator"](spark, SF).collect()
    }
    ev = _tbl("events")
    ev["cents"] = (ev.value * 100).round().astype("int64")
    daily = (
        ev.groupby(ev.ts.dt.date)["cents"].sum().sort_index()
    )
    dv = daily.diff().dropna()
    gains = dv.clip(lower=0).rolling(TA_WIN).sum()
    losses = (-dv.clip(upper=0)).rolling(TA_WIN).sum()
    want = {}
    for d in dv.index[TA_WIN - 1 :]:
        gsum, lsum = int(gains[d]), int(losses[d])
        rsi = 500 if gsum + lsum == 0 else gsum * 1000 // (gsum + lsum)
        want[d] = (gsum, lsum, rsi)
    assert set(rows) == set(want)
    for d, (gsum, lsum, rsi) in want.items():
        r = rows[d]
        assert (r.gains_cents, r.losses_cents, r.rsi_permille) == (
            gsum,
            lsum,
            rsi,
        )

"""Independent-model replays, batch 2 (round 10): graph, survival,
seasonal, robust-stats, and cohort queries recomputed from raw
parquet with plain Python/pandas/numpy. Same discipline as
test_independent_replays.py — no shared SQL identity with the
implementation or its DuckDB oracle."""

from __future__ import annotations

import datetime as dt
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def _trade_pairs() -> set:
    o = _tbl("orders")
    li = _tbl("lineitem")
    j = o[o.o_custkey < 60].merge(
        li, left_on="o_orderkey", right_on="l_orderkey"
    )
    return set(zip(j.o_custkey, j.l_suppkey))


def test_hits_matches_python_power_iteration(spark):
    registry.load_all()
    rows = {
        (r.role, r.node): r.score_permille
        for r in registry.QUERIES["hits_hub_authority"](
            spark, SF
        ).collect()
    }
    pairs = _trade_pairs()
    a1: Counter = Counter()
    for _c, s in pairs:
        a1[s] += 1
    h1: Counter = Counter()
    for c, s in pairs:
        h1[c] += a1[s]
    a2: Counter = Counter()
    for c, s in pairs:
        a2[s] += h1[c]
    h2: Counter = Counter()
    for c, s in pairs:
        h2[c] += a2[s]
    mh, ma = max(h2.values()), max(a2.values())
    want = {
        ("hub", f"c{c}"): v * 1000 // mh for c, v in h2.items()
    } | {
        ("authority", f"s{s}"): v * 1000 // ma for s, v in a2.items()
    }
    assert rows == want


def test_km_survival_matches_python_replay(spark):
    from hdsp_hive_release_src_spark.queries.stats.inference import KM_CENTS

    registry.load_all()
    rows = {
        r.t_days: r
        for r in registry.QUERIES["km_survival_hazard"](
            spark, SF
        ).collect()
    }
    ev = _tbl("events")
    ev["cents"] = (ev.value * 100).round().astype("int64")
    ev["date"] = ev.ts.dt.date
    cut = ev.date.max()
    lif = []
    for _uid, g in ev.groupby("user_id"):
        fd = g.date.min()
        conv = g[(g.event_type == "purchase") & (g.cents >= KM_CENTS)]
        if len(conv):
            pd_ = conv.ts.min().date()
            lif.append(((pd_ - fd).days, 1))
        else:
            lif.append(((cut - fd).days, 0))
    per_t: dict = defaultdict(lambda: [0, 0, 0])  # d, c, n
    for t, dead in lif:
        per_t[t][0] += dead
        per_t[t][1] += 1 - dead
        per_t[t][2] += 1
    n_risk = 0
    want = {}
    for t in sorted(per_t, reverse=True):
        d, c, n = per_t[t]
        n_risk += n
        want[t] = (n_risk, d, c, d * 1000 // n_risk)
    assert set(rows) == set(want)
    for t, (nr, d, c, hz) in want.items():
        r = rows[t]
        assert (
            r.n_risk,
            r.d_events,
            r.n_censored,
            r.hazard_permille,
        ) == (nr, d, c, hz)


def test_seasonal_decompose_matches_python_replay(spark):
    registry.load_all()
    rows = {
        r.dow: r
        for r in registry.QUERIES["seasonal_decompose_additive"](
            spark, SF
        ).collect()
    }
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    daily = o.groupby("o_orderdate")["cents"].sum().sort_index()
    dates = list(daily.index)
    c = daily.to_numpy()
    nd = len(c)
    per_dow: dict = defaultdict(list)
    for i in range(3, nd - 3):
        trend_milli = int(c[i - 3 : i + 4].sum()) * 1000 // 7
        # Spark dayofweek: Sunday=1 .. Saturday=7
        dow = dates[i].isoweekday() % 7 + 1
        per_dow[dow].append(int(c[i]) * 1000 - trend_milli)
    def _trunc_div(a: int, b: int) -> int:
        # Spark's div truncates toward zero; Python's // floors
        q = abs(a) // b
        return q if a >= 0 else -q

    want = {
        dow: (len(v), _trunc_div(sum(v), len(v)))
        for dow, v in per_dow.items()
    }
    assert set(rows) == set(want)
    for dow, (n_days, eff) in want.items():
        assert rows[dow].n_days == n_days
        assert rows[dow].effect_millicents == eff


def test_tukey_fences_matches_numpy_percentile(spark):
    registry.load_all()
    rows = {
        r.pri: r
        for r in registry.QUERIES["tukey_fences_grouped"](
            spark, SF
        ).collect()
    }
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    for pri, g in o.groupby("o_orderpriority"):
        v = g.cents.to_numpy().astype(np.float64)
        q1 = float(np.percentile(v, 25, method="linear"))
        q3 = float(np.percentile(v, 75, method="linear"))
        iqr = q3 - q1
        out = int(((v < q1 - 1.5 * iqr) | (v > q3 + 1.5 * iqr)).sum())
        r = rows[pri]
        assert r.n == len(v)
        assert abs(r.q1 - round(q1, 6)) < 1e-6
        assert abs(r.q3 - round(q3, 6)) < 1e-6
        assert r.n_outliers == out


def test_fano_factor_matches_numpy_replay(spark):
    registry.load_all()
    rows = {
        r.event_type: r
        for r in registry.QUERIES["burstiness_fano_factor"](
            spark, SF
        ).collect()
    }
    ev = _tbl("events")
    daily = (
        ev.groupby(["event_type", ev.ts.dt.date])
        .size()
        .rename("c")
        .reset_index()
    )
    for et, g in daily.groupby("event_type"):
        c = g.c.to_numpy().astype(np.float64)
        fano = float(c.var(ddof=1) / c.mean())
        r = rows[et]
        assert r.n_days == len(c)
        assert r.n_events == int(c.sum())
        assert abs(r.fano_factor - fano) < 1e-9


def test_cohort_ltv_matches_python_replay(spark):
    registry.load_all()
    rows = {
        (r.cohort_week_start, r.week_offset): r
        for r in registry.QUERIES["cohort_ltv_matrix"](
            spark, SF
        ).collect()
    }
    ev = _tbl("events")
    ev["cents"] = (ev.value * 100).round().astype("int64")
    epoch = dt.date(1970, 1, 1)
    ev["ew"] = ev.ts.dt.date.map(lambda d: (d - epoch).days // 7)
    first = ev.groupby("user_id")["ew"].min().rename("cw")
    ev = ev.merge(first, on="user_id")
    ev["off"] = ev.ew - ev.cw
    users = (
        ev[ev.off == 0].groupby("cw")["user_id"].nunique().to_dict()
    )
    m = (
        ev.groupby(["cw", "off"])["cents"].sum().sort_index()
    )
    want = {}
    for cw in sorted({k[0] for k in m.index}):
        cum = 0
        for off in sorted(k[1] for k in m.index if k[0] == cw):
            cum += int(m[(cw, off)])
            start = epoch + dt.timedelta(days=int(cw) * 7)
            want[(start, int(off))] = (
                users[cw],
                cum,
                cum // users[cw],
            )
    assert set(rows) == set(want)
    for k, (u, cum, ltv) in want.items():
        r = rows[k]
        assert (r.users, r.cum_cents, r.ltv_cents_per_user) == (
            u,
            cum,
            ltv,
        )


def test_calibration_bins_match_python_replay(spark):
    registry.load_all()
    rows = {
        r.bin: r
        for r in registry.QUERIES["calibration_curve_bins"](
            spark, SF
        ).collect()
    }
    o = _tbl("orders")
    pc = (o.o_orderkey % 101).to_numpy()
    y = (o.o_orderstatus == "F").astype(int).to_numpy()
    n_tot = len(pc)
    brier = int(((pc - 100 * y) ** 2).sum()) * 100 // n_tot
    for b in range(10):
        mask = np.minimum(9, pc // 10) == b
        n = int(mask.sum())
        sp, sy = int(pc[mask].sum()), int(y[mask].sum())
        r = rows[b]
        assert r.n == n
        assert r.pred_permille == sp * 10 // n
        assert r.obs_permille == sy * 1000 // n
        assert r.brier_micro == brier

"""Independent-model replays, batch 3 (round 10): linear algebra,
calendars, sweep lines, and bipartite projections recomputed from raw
parquet in plain Python. Notably iso_week_boundaries is replayed with
``date.isocalendar()`` — the stdlib's own ISO-8601 implementation —
so the week/year/dow derivation is checked against a third engine
that shares no code with either Spark or DuckDB."""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from hdsp_hive_release_src_spark import registry

SF = "/root/testdata/sf0.001"


def _tbl(name: str) -> pd.DataFrame:
    return pq.read_table(f"{SF}/{name}.parquet").to_pandas()


def _round_half_up(x: float) -> int:
    # Spark/DuckDB round() sends .5 away from zero; Python's round()
    # is banker's
    return (
        math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
    )


def _trunc_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_pca_power_iteration_matches_python_int_replay(spark):
    registry.load_all()
    rows = {
        r.dim: r.loading_permille
        for r in registry.QUERIES["pca_power_iteration_exact"](
            spark, SF
        ).collect()
    }
    emb = _tbl("embeddings")
    vecs = [
        [_round_half_up(float(x) * 1_000_000) for x in v]
        for v in emb.embedding
    ]
    d = len(vecs[0])
    cov = [[0] * d for _ in range(d)]
    for v in vecs:
        for j in range(d):
            vj = v[j]
            row = cov[j]
            for k in range(d):
                row[k] += vj * v[k]
    v1 = [sum(cov[j][k] for j in range(d)) for k in range(d)]
    v2 = [
        sum(cov[j][k] * v1[k] for k in range(d)) for j in range(d)
    ]
    m = max(abs(w) for w in v2)
    want = {j: _trunc_div(v2[j] * 1000, m) for j in range(d)}
    assert rows == want


def test_source_centroid_cosine_matches_python_int_replay(spark):
    registry.load_all()
    rows = {
        (r.s1, r.s2): r.cosine
        for r in registry.QUERIES["source_centroid_cosine"](
            spark, SF
        ).collect()
    }
    emb = _tbl("embeddings")
    docs = _tbl("documents")[["doc_id", "source"]]
    j = emb.merge(docs, left_on="vec_id", right_on="doc_id")
    cents: dict = {}
    for src, g in j.groupby("source"):
        d = len(g.embedding.iloc[0])
        sv = [0] * d
        for v in g.embedding:
            for i in range(d):
                sv[i] += _round_half_up(float(v[i]) * 1_000_000)
        cents[src] = sv
    want = {}
    srcs = sorted(cents)
    for i, s1 in enumerate(srcs):
        for s2 in srcs[i + 1 :]:
            a, b = cents[s1], cents[s2]
            dot = sum(x * y for x, y in zip(a, b))
            n1 = sum(x * x for x in a)
            n2 = sum(x * x for x in b)
            want[(s1, s2)] = round(
                float(dot) / math.sqrt(float(n1) * float(n2)), 6
            )
    assert rows == want


def test_mom_waterfall_matches_pandas_replay(spark):
    registry.load_all()
    rows = {
        (r.mon, r.seg): r
        for r in registry.QUERIES["mom_waterfall_contribution"](
            spark, SF
        ).collect()
    }
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    o["mon"] = pd.to_datetime(o.o_orderdate).dt.to_period("M")
    m = (
        o.groupby(["o_orderpriority", "mon"])["cents"]
        .sum()
        .sort_index()
    )
    deltas: dict = {}
    for seg in m.index.get_level_values(0).unique():
        s = m[seg]
        prev = None
        for mon, c in s.items():
            if prev is not None:
                deltas[(mon.to_timestamp().date(), seg)] = int(
                    c - prev
                )
            prev = c
    tot: Counter = Counter()
    for (mon, _seg), d in deltas.items():
        tot[mon] += d
    want = {
        k: (d, tot[k[0]])
        for k, d in deltas.items()
        if k[0].year == 1998
    }
    assert set(rows) == set(want)
    for k, (contrib, total) in want.items():
        assert rows[k].contribution == contrib
        assert rows[k].total_delta == total


def test_iso_week_matches_stdlib_isocalendar(spark):
    registry.load_all()
    rows = registry.QUERIES["iso_week_boundaries"](spark, SF).collect()
    assert rows
    for r in rows:
        iso = r.d.isocalendar()
        assert r.iso_year == iso[0], r
        assert r.iso_week == iso[1], r
        assert r.iso_dow == iso[2], r


def test_interval_union_matches_python_sweep(spark):
    registry.load_all()
    rows = {
        r.user_id: r
        for r in registry.QUERIES["interval_union_coverage"](
            spark, SF
        ).collect()
    }
    ev = _tbl("events")
    # force an explicit microsecond view — the parquet column is
    # timestamp[us] and pandas may back it with either ns or us
    ev["s"] = ev.ts.values.astype("datetime64[us]").astype("int64")
    want = {}
    for uid, g in ev.groupby("user_id"):
        spans = sorted((s, s + 600_000_000) for s in g.s)
        covered = islands = 0
        cur_end = None
        for s, e in spans:
            if cur_end is None or s > cur_end:
                islands += 1
                covered += e - s
                cur_end = e
            elif e > cur_end:
                covered += e - cur_end
                cur_end = e
        want[uid] = (covered, islands)
    assert set(rows) == set(want)
    for uid, (cov, isl) in want.items():
        assert (rows[uid].covered_us, rows[uid].n_islands) == (
            cov,
            isl,
        )


def test_tiered_commission_matches_python_replay(spark):
    registry.load_all()
    rows = {
        r.pri: r
        for r in registry.QUERIES["tiered_commission_brackets"](
            spark, SF
        ).collect()
    }
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    for pri, g in o.groupby("o_orderpriority"):
        comm = 0
        for c in g.cents:
            c = int(c)
            comm += min(c, 10_000_000) * 10
            comm += max(0, min(c, 30_000_000) - 10_000_000) * 25
            comm += max(0, c - 30_000_000) * 40
        r = rows[pri]
        assert r.n == len(g)
        assert r.cents == int(g.cents.sum())
        assert r.commission_cents == comm // 1000


def test_two_hop_reach_matches_python_sets(spark):
    registry.load_all()
    rows = {
        r.custkey: r.two_hop_reach
        for r in registry.QUERIES["two_hop_reach"](spark, SF).collect()
    }
    o = _tbl("orders")
    li = _tbl("lineitem")
    j = o[o.o_custkey < 60].merge(
        li, left_on="o_orderkey", right_on="l_orderkey"
    )
    by_sup: dict = defaultdict(set)
    by_cust: dict = defaultdict(set)
    for c, s in set(zip(j.o_custkey, j.l_suppkey)):
        by_sup[s].add(c)
        by_cust[c].add(s)
    want = {}
    for c, sups in by_cust.items():
        reach = set().union(*(by_sup[s] for s in sups)) - {c}
        if reach:
            want[c] = len(reach)
    assert rows == want


def test_neyman_allocation_matches_python_replay(spark):
    registry.load_all()
    rows = {
        r.pri: r
        for r in registry.QUERIES["neyman_allocation_sampling"](
            spark, SF
        ).collect()
    }
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    stats = {}
    for pri, g in o.groupby("o_orderpriority"):
        n = len(g)
        sm = int(g.cents.sum())
        sq = sum(int(c) * int(c) for c in g.cents)
        # replicate the engines' float op order exactly
        w = n * math.sqrt((float(sq) - float(sm) * sm / n) / (n - 1))
        stats[pri] = (n, w)
    t = 0.0
    for w in sorted(x[1] for x in stats.values()):
        t += w
    base = {p: math.floor(w * 1000 / t) for p, (_n, w) in stats.items()}
    rem = {
        p: w * 1000 / t - math.floor(w * 1000 / t)
        for p, (_n, w) in stats.items()
    }
    left = 1000 - sum(base.values())
    order = sorted(stats, key=lambda p: (-rem[p], p))
    for i, p in enumerate(order):
        want_size = int(base[p]) + (1 if i < left else 0)
        assert rows[p].stratum_n == stats[p][0]
        assert rows[p].sample_size == want_size
    assert sum(r.sample_size for r in rows.values()) == 1000


def test_fiscal_445_matches_python_replay(spark):
    registry.load_all()
    rows = {
        (r.fyear, r.period): r
        for r in registry.QUERIES["fiscal_calendar_445"](
            spark, SF
        ).collect()
    }
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    agg: dict = defaultdict(lambda: [0, 0])
    for od, cents in zip(
        pd.to_datetime(o.o_orderdate).dt.date, o.cents
    ):
        fyear = od.year + 1 if od.month >= 2 else od.year
        w = (od - dt.date(fyear - 1, 2, 1)).days // 7
        if w >= 52:
            period = 12
        else:
            q, r = divmod(w, 13)
            period = q * 3 + (1 if r < 4 else 2 if r < 8 else 3)
        a = agg[(fyear, period)]
        a[0] += 1
        a[1] += int(cents)
    assert set(rows) == set(agg)
    for k, (n, cents) in agg.items():
        assert (rows[k].n_orders, rows[k].cents) == (n, cents)


def test_winsorized_matches_python_order_stats(spark):
    registry.load_all()
    rows = {
        r.pri: r
        for r in registry.QUERIES["winsorized_stats_clip"](
            spark, SF
        ).collect()
    }
    o = _tbl("orders")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    for pri, g in o.groupby("o_orderpriority"):
        v = sorted(int(c) for c in g.cents)
        n = len(v)
        lo_cands = [v[rn - 1] for rn in range(1, n + 1) if rn * 20 <= n]
        hi_cands = [
            v[rn - 1]
            for rn in range(1, n + 1)
            if (n - rn + 1) * 20 <= n
        ]
        lo = max(lo_cands) if lo_cands else v[0]
        hi = min(hi_cands) if hi_cands else v[-1]
        clipped = [min(max(c, lo), hi) for c in v]
        r = rows[pri]
        assert r.n == n
        assert r.lo_bound == min(clipped)
        assert r.hi_bound == max(clipped)
        assert r.winsor_mean_milli == sum(clipped) * 1000 // n


def test_cosupply_matches_python_pair_counting(spark):
    from hdsp_hive_release_src_spark.queries.graph import COSUPPLY_MAX_DEGREE

    registry.load_all()
    rows = {
        (r.s1, r.s2): r.shared_parts
        for r in registry.QUERIES["cosupply_bipartite_projection"](
            spark, SF
        ).collect()
    }
    li = _tbl("lineitem")
    by_part: dict = defaultdict(set)
    for p, s in set(zip(li.l_partkey, li.l_suppkey)):
        by_part[p].add(s)
    pairs: Counter = Counter()
    for sups in by_part.values():
        if len(sups) > COSUPPLY_MAX_DEGREE:
            continue
        ss = sorted(sups)
        for i, s1 in enumerate(ss):
            for s2 in ss[i + 1 :]:
                pairs[(s1, s2)] += 1
    want = {k: v for k, v in pairs.items() if v >= 3}
    assert rows == want
